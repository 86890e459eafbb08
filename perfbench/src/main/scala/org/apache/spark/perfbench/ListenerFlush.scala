/*
 * Lives in the org.apache.spark namespace solely to reach
 * SparkContext.listenerBus.waitUntilEmpty() (private[spark]): listener
 * events are delivered asynchronously, and a span's task metrics may only
 * be read once every event of its jobs has been delivered.
 */
package org.apache.spark.perfbench

import org.apache.spark.SparkContext

object ListenerFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
