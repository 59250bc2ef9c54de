package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced run waits for
  * it to empty before reading its counters. The wait is `private[spark]`,
  * hence this one-line shim in Spark's package.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
