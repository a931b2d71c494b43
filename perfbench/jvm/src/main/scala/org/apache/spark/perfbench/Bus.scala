package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is private to the `org.apache.spark`
  * package, so the harness can read complete task metrics. */
object Bus {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
