package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** One span: a timed call at a layer boundary. `op` is the operation id all
  * spans of one operation share; `parent` is the span that caused it (-1
  * for a root). Times are System.nanoTime; `wallMs` is the epoch start so
  * spans line up with Spark's task timestamps.
  */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, wallMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark's own per-task and per-stage numbers, tagged with the job group
  * that was current when the work was submitted. Only attached in the
  * traced run.
  */
final class Collector extends SparkListener {
  final case class Task(stage: Int, launch: Long, finish: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRecords: Long)
  val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = jobGroup.put(e.jobId, group(e.properties))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, group(e.properties))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead))
  }
}

/** Executed-plan walks (the final adaptive plan, through query stages). */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
  def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
  /** Output rows of the nearest node below (and including) `p` that counts them. */
  def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value)
    .getOrElse(nodes(p).drop(1).collectFirst {
      case c if c.metrics.contains("numOutputRows") => c.metrics("numOutputRows").value
    }.getOrElse(0L))
  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
  def nestedLoops(p: SparkPlan): Seq[SparkPlan] =
    nodes(p).filter(_.nodeName.startsWith("BroadcastNestedLoopJoin"))
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = nodes(p).collect { case s: FileSourceScanExec => s }
}

/** Span recorder and per-operation counters. Spans are held in memory and
  * written when the run ends. Each span also becomes the Spark job group,
  * so jobs, stages and tasks are attributed to the innermost span that
  * submitted them.
  */
final class Tracer(spark: SparkSession) {
  val collector = new Collector
  spark.sparkContext.addSparkListener(collector)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-operation counts recorded at the operation's boundary: op → name → value. */
  val counts = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  /** Frames consumed inside each operation, inspected after its timed window. */
  val frames = mutable.HashMap.empty[Int, DataFrame]
  private var stack: List[Int] = Nil
  private var nextOp = 0
  var op: Int = -1

  private def group(id: Int) = s"$op:$id"

  def span[T](name: String)(body: => T): T = {
    if (stack.isEmpty) { op = nextOp; nextOp += 1 }
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, op, name, parent, System.nanoTime(), 0L, System.currentTimeMillis())
    stack = id :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), spans(p).name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** A span caused by operation `opId` but outside its timed interval (verification). */
  def after[T](opId: Int, name: String)(body: => T): T = {
    val root = spans.indexWhere(s => s.op == opId && s.parent == -1)
    val id = spans.size
    spans += Span(id, opId, name, root, System.nanoTime(), 0L, System.currentTimeMillis())
    try body finally spans(id) = spans(id).copy(endNs = System.nanoTime())
  }

  def count(opId: Int, name: String, v: Double): Unit =
    counts.getOrElseUpdate(opId, mutable.LinkedHashMap.empty)(name) = v

  /** A layer's self time: its duration minus the part its children cover. */
  def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .filter(c => c.startNs >= s.startNs && c.endNs <= s.endNs).map(_.ms).sum
        s.ms - covered
      }.sum
    }
  }

  /** Spark work attributed to one operation, read after the run has drained
    * the listener bus.
    */
  final case class Work(jobs: Int, eagerJobs: Int, stages: Int, tasks: Seq[Collector#Task])

  def work(opId: Int, callSpan: Option[Int]): Work = {
    val prefix = s"$opId:"
    val jobs = collector.jobGroup.asScala.filter(_._2.startsWith(prefix))
    val eager = callSpan.map(id => jobs.count(_._2 == s"$opId:$id")).getOrElse(0)
    val stageIds = collector.stageGroup.asScala.filter(_._2.startsWith(prefix)).keySet
    val done = collector.stagesDone.asScala.count(stageIds.contains)
    Work(jobs.size, eager, done, collector.tasks.asScala.filter(t => stageIds.contains(t.stage)).toSeq)
  }
}
