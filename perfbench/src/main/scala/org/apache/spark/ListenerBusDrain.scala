package org.apache.spark

/** The listener bus delivers task and query events asynchronously; the
  * traced run drains it at span boundaries so each event lands in the
  * span that caused it. `listenerBus` is package-private, hence the
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
