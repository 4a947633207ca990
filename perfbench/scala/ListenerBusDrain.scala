package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the traced run's listener totals are complete before they are read.
  * (`SparkContext.listenerBus` is visible only inside `org.apache.spark`.)
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
