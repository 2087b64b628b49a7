package perfbench

import scala.collection.mutable

/** `--selfcheck`: on tiny inputs, shows that the same seed yields identical
  * inputs and another seed different ones, that the checkers agree with the
  * engine on every operation kind, that a wrong answer and an exception
  * are each counted as failed (and never timed), and that a traced run
  * yields the full per-layer table.
  */
object SelfCheck {
  def run(a: Args): Int = {
    val spark = Session.start(a.work)
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"selfcheck ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) problems += what
    }
    def build(seed: Long, dir: String): Seq[Phase] = {
      val ps = Main.phases(spark, seed, Sizes.tiny)
      ps.foreach(_.setup(s"${a.work}/$dir"))
      ps
    }
    def fingerprint(ps: Seq[Phase]) = Gen.fingerprint(ps.flatMap(_.inputs))
    val first = build(7, "a")
    val again = build(7, "b")
    val other = build(8, "c")
    expect(fingerprint(first) == fingerprint(again), "the same seed yields identical inputs")
    expect(fingerprint(first) != fingerprint(other), "another seed yields different inputs")

    first.foreach(_.prepare())
    val tracer = new Tracer(spark)
    val h = new Harness(spark, Some(tracer))
    first.foreach { p => p.warm(h); p.run(h, System.nanoTime()) }
    first.collect { case c: ChurnPhase => c.finalCheck(h) }
    expect(h.failed == 0 && h.attempted > 0,
      s"the checkers agree with the engine (${h.attempted} operations, ${h.failed} failed" +
        s"${h.failures.map(_.takeWhile(_ != ':')).distinct.mkString(": ", ", ", "")})")

    val bad = new Harness(spark, None)
    first.collect { case l: LookupPhase => l.tampered(bad) }
    bad.op("throws", "engine")(throw new IllegalStateException("deliberate"))(identity[Unit])(_ => None)
    expect(bad.failed == 2 && bad.attempted == 2 && bad.samples.isEmpty,
      "a wrong answer and an exception are each counted as failed and not timed")

    // count() instead of consuming the frame: Catalyst drops the loop's joins
    first.collect { case b: BatchPhase => b.edgesPath }.foreach { path =>
      def joins(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
        .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
      val ranks = graft.pipeline.PageRank.pageRank(spark.read.parquet(path), 3)
      println(s"selfcheck info PageRank (3 iterations) plans ${joins(ranks)} joins when consumed, " +
        s"${joins(ranks.groupBy().count())} under count()")
    }
    val kinds = first.flatMap(_.kindMetrics(h))
    spark.stop()
    val layers = Layers.table(tracer, h, first.flatMap(_.kinds), (0.0, 0.0), 1.0, 1.0)
    expect(kinds.size == 15 && kinds.forall(!_._2.isNaN) && layers.map(_._1).distinct.size == layers.size,
      s"${kinds.size} per-kind figures measured, ${layers.size} per-layer metrics with unique names")
    println(s"""{"selfcheck": ${problems.isEmpty}, "per_layer": {${layers.map(m => "\"" + m._1 + "\": \"" + m._3 + "\"").mkString(", ")}}}""")
    if (problems.isEmpty) 0 else 1
  }
}
