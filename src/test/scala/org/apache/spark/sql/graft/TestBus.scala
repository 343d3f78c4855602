package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Drains the listener bus, so a spec's listener has seen every event
  * of the jobs that ran before the call. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
