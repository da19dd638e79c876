package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Deterministic listener-event drain: `SparkContext.listenerBus` went
  * `private[spark]`, so tooling that reads its own SparkListener state
  * after a job (e.g. a filtered [[graft.Bench]] run's per-pass stage stats)
  * can't flush the bus without a racy sleep. Same extension seam as
  * [[ColumnBridge]]/[[SessionBridge]]: reached from inside the
  * org.apache.spark package namespace. */
object ListenerBridge {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
