package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark

  /** Await a streaming query, then guarantee it is FULLY terminated before
    * the test returns: a query still winding down when the JVM/session
    * shuts off dies with an INTERNAL_ERROR ("SparkPlan.session() is null")
    * teardown race in the log — an ERROR line that means nothing and
    * trains readers to ignore ERROR lines. stop() is idempotent; the
    * untimed awaitTermination then blocks only until the stop lands.
    */
  def awaitAndStop(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long): Unit =
    try {
      // drain, then stop the IDLE query: waiting out an AvailableNow
      // self-termination is unreliable on a parquet sink (it can idle past
      // any timeout), and stop() on a BUSY query interrupts an in-flight
      // micro-batch write and logs an ERROR abort. Drain-then-stop is
      // deterministic and quiet. The drain runs under a HARD watchdog:
      // a ProcessingTimeTimeout query replayed with AvailableNow spins
      // empty timeout micro-batches forever (see StreamDedup's
      // idleTimeoutMs note), and an untimed drain would hang the suite —
      // fail the test loudly instead.
      val drain = new java.util.concurrent.FutureTask[Unit](
        () => q.processAllAvailable())
      val t = new Thread(drain, s"graft-drain-${q.id}"); t.setDaemon(true)
      t.start()
      try drain.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          q.stop()
          fail(s"streaming drain exceeded ${timeoutMs}ms watchdog — " +
            "likely a ProcessingTimeTimeout state op under AvailableNow " +
            "spinning empty micro-batches (pass idleTimeoutMs = 0)")
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    } finally { q.stop(); q.awaitTermination() }

  /** Runs `f` in a fresh session whose rules come from
    * `spark.sql.extensions=graft.plans.GraftSparkExtensions` alone (no
    * GraftOptimizations.install), then restores the shared session.
    */
  def withExtensionsSession(f: SparkSession => Unit): Unit = {
    val base = spark   // materialize the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a static conf: getOrCreate reads it from the
    // (already-running) SparkContext's conf, not the getOrCreate() options
    org.apache.spark.GraftTestConf.set(base.sparkContext,
      "spark.sql.extensions", "graft.plans.GraftSparkExtensions")
    try {
      val s2 = SparkSession.builder().getOrCreate()
      assert(s2 ne base)
      graft.functions.SpatialFunctions.register(s2)
      f(s2)
    } finally {
      org.apache.spark.GraftTestConf.remove(base.sparkContext, "spark.sql.extensions")
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  /** Assert a streaming checkpoint retained only a handful of commit
    * epochs — a bounded AvailableNow replay writes one commit per staged
    * micro-batch (a few dozen at most); hundreds means a timeout spin
    * silently burned wall-clock even if the query eventually stopped.
    */
  def assertFewEpochs(ckpt: String, max: Int = 64): Unit = {
    val commits = new java.io.File(s"$ckpt/commits")
    if (commits.isDirectory) {
      val n = commits.list().count(f => f.forall(_.isDigit))
      assert(n <= max, s"checkpoint $ckpt retained $n commit epochs " +
        s"(> $max) — empty-batch spin regression")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // every deliberately-unpartitioned window site runs its
      // BoundedWindow count guard under the test session
      .config("spark.graft.assertBoundedWindows", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.SpatialFunctions.register(s)
    s
  }
}
