package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one private Spark hook the traced run needs: drain the listener
  * bus, so every stage, task and query event of the traced ops has been
  * delivered before the per-layer numbers are computed. */
object Bus {
  private val TimeoutMs = 30000L

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(TimeoutMs)
}
