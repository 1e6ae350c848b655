package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one package-private Spark hook the traced run needs: block until
  * every posted listener event has been delivered, so the counters read
  * after a call include that call's events. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
