package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BroadcastBlockId

/** Test-side view into `private[spark]` state. Lives under
  * org.apache.spark so the package-private members resolve. */
object SparkProbe {
  /** The values of the broadcast blocks the driver's block manager holds
    * (whole values, not their torrent pieces). Reading a value takes a
    * read lock that is released once its iterator is drained. */
  def broadcastValues(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList)).toSeq
  }

  /** Waits until every event posted so far reached its listeners, so a
    * QueryExecutionListener has seen every query that already ended. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
