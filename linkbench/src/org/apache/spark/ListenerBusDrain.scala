package org.apache.spark

/** The live listener bus is private to Spark; the span recorder needs
  * every task-end event of a span delivered before it rolls the span up. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
