package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Runs operations in a closed loop (one caller, each call waits for its
  * reply), times them, consumes every result in full, and checks it
  * outside the timed window. A failed check or an exception counts as a
  * failed operation, is reported by name, and contributes no latency.
  */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer]) {
  /** Latencies in ms of checked-good operations, by operation kind. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Checksum over every consumed value; printed so no result is dead. */
  var checksum = 0L
  /** Ids of traced operations by kind, for the per-layer table. */
  val tracedOps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Plan, then run the consuming action and fold every row into the checksum. */
  def consume(df: DataFrame): Array[Row] = {
    span("catalyst.plan")(df.queryExecution.executedPlan)
    val rows = span("exec.action")(df.collect())
    checksum += Checksum.rows(rows)
    tracer.foreach(t => t.frames(t.op) = df)
    rows
  }

  /** One operation: `call` goes into `layer` (engine | plans | pipeline),
    * `use` consumes what it returned, `check` returns an error or None.
    * `record` = false runs and checks without keeping the latency (warm-up).
    */
  def op[A, B](kind: String, layer: String, record: Boolean = true)(call: => A)(use: A => B)(
      check: B => Option[String]): Option[B] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(span("op")(use(span(s"$layer.call")(call))))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val opId = tracer.map(_.op).getOrElse(-1)
    val verdict = out match {
      case Left(e) => Some(s"exception ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(b) =>
        try tracer match {
          case Some(t) => t.after(opId, "verify")(check(b))
          case None => check(b)
        } catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    verdict match {
      case Some(msg) =>
        failed += 1
        failures += s"$kind: $msg"
        System.err.println(s"[perfbench] FAILED $kind: $msg")
        None
      case None =>
        if (record) {
          samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          if (tracer.isDefined) tracedOps.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += opId
          sinceReference += ms
          if (sinceReference >= 1000) { referenceJob(); sinceReference = 0 }
        }
        out.toOption
    }
  }

  def count(name: String, v: Double): Unit = tracer.foreach(t => t.count(t.op, name, v))

  /** Timings (ms) of a fixed reference job: plain RDD work with no graft
    * code, run between operations after every second of measured time, so
    * a run's latencies can be stated relative to the machine's speed while
    * it ran (the 4-core host it was tuned on drifts by a third within minutes).
    */
  val reference = mutable.ArrayBuffer.empty[Double]
  private var sinceReference = 0.0

  def referenceJob(record: Boolean = true): Unit = {
    val t0 = System.nanoTime()
    val r = spark.sparkContext.parallelize(0 until 200000, 8)
      .map(i => (i % 101, i.toLong)).reduceByKey(_ + _, 8).collect()
    if (record) reference += (System.nanoTime() - t0) / 1e6
    checksum += r.length
  }
}

object Checksum {
  def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toLong
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.foldLeft(17L)((h, x) => h * 31 + value(x))
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) * 31 + value(x) }.sum
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other.hashCode.toLong
  }
  def row(r: Row): Long = {
    var h = 1L
    var i = 0
    while (i < r.length) { h = h * 1000003L + value(r.get(i)); i += 1 }
    h
  }
  def rows(rs: Array[Row]): Long = rs.foldLeft(0L)((acc, r) => acc + row(r))
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN when nothing was measured. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
