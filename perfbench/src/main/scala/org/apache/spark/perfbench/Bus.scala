package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events on its own thread; a span boundary
  * must wait until every event of the work before it has been counted.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
