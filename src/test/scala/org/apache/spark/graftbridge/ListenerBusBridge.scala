package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the private listener bus: specs that count jobs through
  * a SparkListener wait here until every event posted so far is delivered.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
