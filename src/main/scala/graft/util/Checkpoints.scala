package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager release of `localCheckpoint` blocks, shared by every operator
  * that checkpoints intermediate frames. */
object Checkpoints {

  /** Release the cached blocks of every checkpoint `df` reads. A
    * checkpointed Dataset's plan is a LogicalRDD over the materialized
    * RDD; unpersisting that RDD frees its storage now rather than at
    * ContextCleaner GC time. Checkpoints that a `keep` frame also reads
    * (a caller's checkpointed input, say) stay. No-op on plans without
    * checkpoints. The caller guarantees that no live frame still needs
    * the released blocks. */
  def free(df: DataFrame, keep: DataFrame*): Unit = {
    val kept = keep.flatMap(rddIds).toSet
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD if !kept.contains(lr.rdd.id) => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case lr: LogicalRDD => lr.rdd.id }
}
