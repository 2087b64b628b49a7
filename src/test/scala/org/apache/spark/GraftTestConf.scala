package org.apache.spark

/** Test-only bridge to package-private SparkContext state.
  *
  * `spark.sql.extensions` is a static conf that getOrCreate reads from the
  * LIVE context's conf, so exercising the extensions registration path on a
  * shared test context requires mutating it. Listener events are delivered
  * asynchronously, so a test that counts them drains the bus first.
  *
  * Leak checks count the RDDs that hold blocks at the block-manager master,
  * with the context cleaner paused: `SparkContext.getPersistentRDDs` is a
  * weak-valued map, and a GC during the check would drop an RDD the code
  * under test left persisted from it, and let the cleaner unpersist it.
  */
object GraftTestConf {
  def set(sc: SparkContext, key: String, value: String): Unit = sc.conf.set(key, value)
  def remove(sc: SparkContext, key: String): Unit = sc.conf.remove(key)
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the RDDs that hold blocks, as the master records them. An
    * unpersist removes its RDD here at once, a non-blocking one too. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = false)
      .collect { case org.apache.spark.storage.RDDBlockId(id, _) => id }.toSet

  /** Runs `body` while the context cleaner waits: it cleans under its own
    * monitor, so no RDD is unpersisted because a GC collected it. */
  def withCleanerPaused[T](sc: SparkContext)(body: => T): T =
    sc.cleaner match {
      case Some(c) => c.synchronized(body)
      case None => body
    }
}
