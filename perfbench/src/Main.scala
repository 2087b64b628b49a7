package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Command line: `--workload lookup|churn|batch --seed N --seconds S
  * --trace 0|1 --work DIR --out DIR [--selfcheck]`. Prints one JSON result
  * object as the last line of standard output.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, selfcheck: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", "lookup"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("work", "perfbench/.work"), m.getOrElse("out", "perfbench/out"),
      a.contains("--selfcheck"))
  }
}

/** The one session configuration every workload uses: local[4], the graft
  * optimizer extensions, AQE with skew-join splitting, and every scratch
  * directory inside the run's work directory.
  */
object Session {
  def start(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code =
      try if (a.selfcheck) SelfCheck.run(a) else { println(run(a)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def phases(spark: SparkSession, seed: Long, sz: Sizes): Seq[Phase] =
    Seq(new LookupPhase(spark, seed, sz), new ChurnPhase(spark, seed, sz), new BatchPhase(spark, seed, sz))

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def quote(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def run(a: Args): String = {
    require(Set("lookup", "churn", "batch")(a.workload), s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val spark = Session.start(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val phase = phases(spark, a.seed, Sizes.default).find(_.name == a.workload).get
    // set-up is repeated and its median reported; the last copy is the one used
    val reps = (1 to SetupReps).map { i =>
      val t = System.nanoTime()
      phase.setup(s"${a.work}/setup$i")
      (System.nanoTime() - t) / 1e9
    }
    (1 until SetupReps).foreach(i => deleteTree(s"${a.work}/setup$i"))
    phase.prepare()

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val h = new Harness(spark, tracer)
    val tw = System.nanoTime()
    (1 to 3).foreach(_ => h.referenceJob(record = false))
    phase.warm(h)
    val warmS = (System.nanoTime() - tw) / 1e9
    val tm = System.nanoTime()
    phase.run(h, tm + a.seconds * 1000000000L)
    val measureS = (System.nanoTime() - tm) / 1e9
    val sc = spark.sparkContext
    val blocks = (sc.getPersistentRDDs.size.toDouble,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
    phase match { case c: ChurnPhase => c.finalCheck(h); case _ => }

    val mix = phase.kinds.flatMap(k => h.samples.getOrElse(k, Nil))
    // per-kind medians first: the kinds' latencies sit in separate clusters,
    // so a median or percentile over the pooled mix jumps between clusters
    val kindP50 = phase.kinds.map(k => Stats.median(h.samples.getOrElse(k, Nil).toSeq))
    val kindP50MeanMs = kindP50.sum / kindP50.size
    val referenceMs = Stats.median(h.reference.toSeq)
    val kindP50MeanRel = kindP50MeanMs / referenceMs
    val e2e = Seq(
      ("setup_s", sessionS + Stats.median(reps), "s"),
      ("kind_p50_mean_rel", kindP50MeanRel, "x"),
      ("bytes_per_row", phase.bytesPerRow, "B"))
    val measured = Seq(("kind_p50_mean_ms", kindP50MeanMs, "ms"), ("reference_ms", referenceMs, "ms"))
    val kindMetrics = phase.kindMetrics(h)
    System.err.println(f"[perfbench] ${a.workload} seed=${a.seed} session=${sessionS}%.2fs " +
      s"setup=${reps.map(r => f"$r%.2f").mkString(",")}s warm=${f"$warmS%.1f"}s " +
      s"measured=${f"$measureS%.1f"}s ops=${h.attempted} failed=${h.failed} " +
      s"samples=${h.samples.map { case (k, v) => s"$k:${v.size}" }.mkString(" ")} checksum=${h.checksum}")
    h.failures.foreach(f => System.err.println(s"[perfbench] failure: $f"))
    spark.stop() // drains the listener bus before the per-layer table is read
    writeResult(a, h, e2e ++ measured, kindMetrics, mix.size)
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        val layers = Layers.table(t, h, phase.kinds, blocks, kindP50MeanRel, referenceMs)
        Layers.write(a, t, h, layers, e2e ++ measured ++ kindMetrics, (System.nanoTime() - t0) / 1e9)
        layers
    }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, "failed": ${h.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}"""
  }

  /** The run's record: end-to-end and per-kind figures, sample counts, failures. */
  def writeResult(a: Args, h: Harness, e2e: Seq[(String, Double, String)],
      kinds: Seq[(String, Double, String)], samples: Int): Unit = {
    def q(s: String) = quote(s)
    def obj(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s"""${q(n)}: {"value": ${fmt(v)}, "unit": ${q(u)}}""" }.mkString("{", ", ", "}")
    val json = s"""{"workload": ${q(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds}, """ +
      s""""trace": ${a.trace}, "attempted": ${h.attempted}, "failed": ${h.failed}, "mix_samples": $samples, """ +
      s""""reference_ms": ${h.reference.map(fmt).mkString("[", ", ", "]")}, """ +
      s""""samples_ms": {${h.samples.map { case (k, v) => s"${q(k)}: ${v.map(fmt).mkString("[", ", ", "]")}" }.mkString(", ")}}, """ +
      s""""end_to_end": ${obj(e2e)}, "by_kind": ${obj(kinds)}, """ +
      s""""failures": [${h.failures.map(q).mkString(", ")}]}""" + "\n"
    Files.createDirectories(Paths.get(a.out))
    Files.write(Paths.get(a.out, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-result.json"),
      json.getBytes("UTF-8"))
  }
}
