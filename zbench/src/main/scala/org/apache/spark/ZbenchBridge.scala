package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`. The benchmark reads its
  * listeners only after every queued event has been delivered.
  */
object ZbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
