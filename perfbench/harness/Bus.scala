package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread. Counters read
  * right after an action can miss the last stage or task events; draining
  * the bus first makes them exact. `listenerBus` is private to the
  * `org.apache.spark` package, hence this one-method bridge.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
