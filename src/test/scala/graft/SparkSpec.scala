package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy). A suite
  * that used it must leave its conf as [[SparkSpec.session]] made it: every
  * later suite in the JVM plans with the same conf. A suite that does not
  * fails, and the conf is put back, so the next suite is judged on its own.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var usedSession = false
  lazy val spark: SparkSession = { usedSession = true; SparkSpec.session }
  def sqlc = spark

  override def afterAll(): Unit =
    try {
      if (usedSession) {
        val start = SparkSpec.sessionConf
        val now = spark.conf.getAll
        val changed = (now.keySet ++ start.keySet).filter(k => now.get(k) != start.get(k))
        changed.foreach(k => start.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
        assert(changed.isEmpty,
          s"${getClass.getSimpleName} left the session conf changed: " +
            changed.toSeq.sorted.map(k => s"$k = ${now.getOrElse(k, "<unset>")}").mkString(", "))
      }
    } finally super.afterAll()

  /** Runs `body` with each key set to its value on the shared session, then
    * puts every key back as it was: its previous value, or unset if the
    * session had none.
    */
  def withConf[T](settings: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

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

  /** Runs `f` in a fresh session on the shared context without the graft
    * rules: the reference a rule's results are compared against. Restores
    * the shared session.
    */
  def withoutGraftRules[T](f: SparkSession => T): T = {
    val base = spark   // materialize the shared context first
    val sc = base.sparkContext
    val extensions = sc.getConf.get("spark.sql.extensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a static conf: getOrCreate reads it from the
    // (already-running) SparkContext's conf, not the getOrCreate() options
    org.apache.spark.GraftTestConf.remove(sc, "spark.sql.extensions")
    try {
      val s2 = SparkSession.builder().getOrCreate()
      assert(s2 ne base)
      graft.functions.SpatialFunctions.register(s2)
      f(s2)
    } finally {
      org.apache.spark.GraftTestConf.set(sc, "spark.sql.extensions", extensions)
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
  private lazy val started: (SparkSession, Map[String, String]) = {
    // 4 cores whatever SPARK_GRAFT_CPUS says: the tests' partitioning
    // does not follow the host
    val s = Sessions.local(4)
    // every deliberately-unpartitioned window site runs its
    // BoundedWindow count guard under the test session
    s.conf.set("spark.graft.assertBoundedWindows", "true")
    (s, s.conf.getAll)
  }

  lazy val session: SparkSession = started._1

  /** The conf [[session]] starts with. */
  lazy val sessionConf: Map[String, String] = started._2
}
