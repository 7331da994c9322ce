package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run must
  * see every task-end event of an operation before it reads the counts.
  * `listenerBus` is `private[spark]`, hence this one-method shim.
  */
object Shim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
