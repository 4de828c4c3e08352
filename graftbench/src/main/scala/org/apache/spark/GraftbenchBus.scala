package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * waits for it to drain at operation boundaries so every event is
  * attributed to the operation that caused it. `listenerBus` is
  * package-private, hence this bridge.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
