package org.apache.spark

/** Test-only bridge to package-private SparkContext state.
  *
  * `spark.sql.extensions` is a static conf that getOrCreate reads from the
  * LIVE context's conf, so exercising the extensions registration path on a
  * shared test context requires mutating it. Listener events are delivered
  * asynchronously, so a test that counts them drains the bus first.
  */
object GraftTestConf {
  def set(sc: SparkContext, key: String, value: String): Unit = sc.conf.set(key, value)
  def remove(sc: SparkContext, key: String): Unit = sc.conf.remove(key)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
