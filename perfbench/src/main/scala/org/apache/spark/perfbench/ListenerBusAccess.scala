package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously. The traced run waits for
  * it to empty after every row, so each row's job, task and streaming events
  * are all delivered before the next row starts. `waitUntilEmpty` is
  * package-private to Spark, hence this accessor's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
