package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.execution.FileSourceScanExec

/** The per-layer table of a traced run. A printed value is a median over
  * the operations of the workload's mix (or of the named kind), measured at
  * the boundary of the call the benchmark makes into that layer; a figure a
  * workload does not exercise reads 0. The table file also breaks every
  * figure down by operation kind.
  */
object Layers {
  /** metric prefix → (layer, what it should move: the bounded end-to-end
    * metric on a workload, and the per-kind figure in the run's result file).
    */
  val Mapping: Seq[(String, String, String)] = Seq(
    ("graft.call_ms", "graft.engine / graft.plans / graft.pipeline",
      "kind_p50_mean_rel on lookup and batch; lookup_*_p50_ms, join_api_s"),
    ("engine.eager_jobs", "graft.engine", "kind_p50_mean_rel on lookup and batch; lookup_knn_p50_ms, join_api_s"),
    ("engine.join_strategy", "graft.engine / graft.plans.StJoinRule", "kind_p50_mean_rel on batch; join_api_s, join_sql_s"),
    ("engine.pair_tests_per_result", "graft.engine / graft.plans.StJoinRule", "kind_p50_mean_rel on batch; join_api_s, join_sql_s"),
    ("plans.curve_ranges", "graft.plans", "kind_p50_mean_rel on lookup; lookup_window_p50_ms, churn_read_p50_ms"),
    ("plans.buckets_rewritten", "graft.plans", "churn_upsert/append/delete_p50_ms"),
    ("plans.write_amplification", "graft.plans", "churn_upsert/append/delete_p50_ms"),
    ("plans.files_per_bucket", "graft.plans", "churn_read_p50_ms; bytes_per_row on churn"),
    ("plans.compact", "graft.plans", "churn_read_p50_ms; bytes_per_row on churn"),
    ("pipeline", "graft.pipeline", "kind_p50_mean_rel on batch; pagerank_s (kcore_s should not move)"),
    ("catalyst", "Spark planning (QueryExecution.tracker)", "kind_p50_mean_rel on lookup; every lookup_*_p50_ms, pagerank_s"),
    ("exec.jobs", "Spark execution", "kind_p50_mean_rel on lookup; lookup_*_p50_ms, pagerank_s"),
    ("exec.stages", "Spark execution", "kind_p50_mean_rel on lookup; lookup_*_p50_ms, pagerank_s"),
    ("exec.tasks", "Spark execution", "kind_p50_mean_rel on lookup; lookup_*_p50_ms, pagerank_s"),
    ("exec.idle_ms", "Spark execution", "kind_p50_mean_rel on lookup; lookup_*_p50_ms, pagerank_s"),
    ("exec.task_ms", "Spark execution", "kind_p50_mean_rel on batch; join_api_s, join_sql_s, kcore_s"),
    ("exec.busy_share", "Spark execution", "kind_p50_mean_rel on batch; join_api_s, join_sql_s, kcore_s"),
    ("exec.task_skew", "Spark execution", "kind_p50_mean_rel on batch; join_api_s, join_sql_s, kcore_s"),
    ("exec.shuffle", "Spark execution", "kind_p50_mean_rel on batch; join_sql_s, pagerank_s, kcore_s"),
    ("exec.spill_bytes", "Spark execution", "kind_p50_mean_rel on batch; join_sql_s, pagerank_s, kcore_s"),
    ("exec.gc_ms", "Spark execution", "kind_p50_mean_rel on both; lookup_p95_ms, pagerank_s, kcore_s"),
    ("scan.rows", "Spark file scan", "kind_p50_mean_rel on lookup; lookup_window/bbox/dwithin/knn_p50_ms"),
    ("scan", "Spark file scan", "kind_p50_mean_rel on lookup; lookup_window_p50_ms, lookup_bbox_p50_ms, churn_read_p50_ms"),
    ("blocks", "Spark block store", "kind_p50_mean_rel on batch; kcore_s, churn_*_p50_ms"),
    ("exec.reference_ms", "Spark execution (reference job, no graft code)", "the divisor of kind_p50_mean_rel; moves with the machine, not the engine"),
    ("traced", "tracing overhead", "compare with the untraced run's kind_p50_mean_rel on the same workload"))

  /** Printed per-layer metrics: name → (unit, per-op key, kinds or Nil for the whole mix). */
  val Printed: Seq[(String, String, String, Seq[String])] = Seq(
    ("graft.call_ms", "ms", "call_ms", Nil),
    ("engine.eager_jobs", "count", "eager_jobs", Nil),
    ("engine.join_strategy.join_api", "code", "engine.join_strategy", Seq("join_api")),
    ("engine.join_strategy.join_sql", "code", "engine.join_strategy", Seq("join_sql")),
    ("engine.pair_tests_per_result.join_api", "ratio", "engine.pair_tests_per_result", Seq("join_api")),
    ("engine.pair_tests_per_result.join_sql", "ratio", "engine.pair_tests_per_result", Seq("join_sql")),
    ("plans.curve_ranges", "count", "plans.curve_ranges", Nil),
    ("plans.buckets_rewritten", "count", "plans.buckets_rewritten", Nil),
    ("plans.write_amplification", "ratio", "plans.write_amplification", Nil),
    ("plans.files_per_bucket_max", "count", "plans.files_per_bucket_max", Nil),
    ("plans.files_per_bucket_mean", "count", "plans.files_per_bucket_mean", Nil),
    ("plans.compact_bytes", "B", "plans.compact_bytes", Seq("compact")),
    ("pipeline.plan_nodes.pagerank", "count", "pipeline.plan_nodes", Seq("pagerank")),
    ("pipeline.plan_nodes.kcore", "count", "pipeline.plan_nodes", Seq("kcore")),
    ("pipeline.exchanges.pagerank", "count", "pipeline.exchanges", Seq("pagerank")),
    ("pipeline.exchanges.kcore", "count", "pipeline.exchanges", Seq("kcore")),
    ("catalyst.analysis_ms", "ms", "analysis_ms", Nil),
    ("catalyst.optimization_ms", "ms", "optimization_ms", Nil),
    ("catalyst.planning_ms", "ms", "planning_ms", Nil),
    ("catalyst.plan_nodes", "count", "plan_nodes", Nil),
    ("exec.jobs", "count", "jobs", Nil),
    ("exec.stages", "count", "stages", Nil),
    ("exec.tasks", "count", "tasks", Nil),
    ("exec.idle_ms", "ms", "idle_ms", Nil),
    ("exec.task_ms", "ms", "task_ms", Nil),
    ("exec.busy_share", "share", "busy_share", Nil),
    ("exec.task_skew", "ratio", "task_skew", Nil),
    ("exec.shuffle_write_bytes", "B", "shuffle_write_bytes", Nil),
    ("exec.shuffle_read_bytes", "B", "shuffle_read_bytes", Nil),
    ("exec.spill_bytes", "B", "spill_bytes", Nil),
    ("exec.gc_ms", "ms", "gc_ms", Nil),
    ("scan.files_read", "count", "files_read", Nil),
    ("scan.partitions_read", "count", "partitions_read", Nil),
    ("scan.metadata_ms", "ms", "metadata_ms", Nil),
    ("scan.bytes_read", "B", "bytes_read", Nil),
    ("scan.rows_read", "count", "rows_read", Nil),
    ("scan.rows_per_result", "ratio", "rows_per_result", Nil))

  /** Per-operation figures: Spark work from the listener, planner phases and
    * scan metrics from the consumed frame, plus the counts recorded at the
    * operation's boundary.
    */
  def perOp(t: Tracer, opId: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.op == opId)
    val root = spans.find(_.parent == -1).get
    val call = spans.find(_.name.endsWith(".call"))
    val w = t.work(opId, call.map(_.id))
    val wallMs = root.ms
    val t0 = root.wallMs; val t1 = t0 + math.round(wallMs)
    // wall time of the operation with no task running anywhere
    val busy = w.tasks.map(k => (math.max(k.launch, t0), math.min(k.finish, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0
    busy.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
    val durations = w.tasks.map(k => (k.finish - k.launch).toDouble)
    val skew = w.tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(k => (k.finish - k.launch).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.maxOption.getOrElse(1.0)
    val m = mutable.LinkedHashMap[String, Double](
      "wall_ms" -> wallMs, "call_ms" -> call.map(_.ms).getOrElse(0.0),
      "jobs" -> w.jobs, "eager_jobs" -> w.eagerJobs, "stages" -> w.stages, "tasks" -> w.tasks.size,
      "idle_ms" -> math.max(0.0, wallMs - covered),
      "task_ms" -> durations.sum, "busy_share" -> durations.sum / math.max(1.0, wallMs * 4),
      "task_skew" -> skew,
      "shuffle_write_bytes" -> w.tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> w.tasks.map(_.shuffleRead).sum.toDouble,
      "spill_bytes" -> w.tasks.map(_.spill).sum.toDouble,
      "gc_ms" -> w.tasks.map(_.gcMs).sum.toDouble,
      "bytes_read" -> w.tasks.map(_.inBytes).sum.toDouble,
      "rows_read" -> w.tasks.map(_.inRecords).sum.toDouble)
    t.frames.get(opId).foreach { df =>
      val qe = df.queryExecution
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        m(s"${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      }
      val plan = qe.executedPlan
      val scans: Seq[FileSourceScanExec] = Plans.scans(plan)
      m("plan_nodes") = Plans.nodes(plan).size
      m("files_read") = scans.map(Plans.metric(_, "numFiles")).sum.toDouble
      m("partitions_read") = scans.map(Plans.metric(_, "numPartitions")).sum.toDouble
      m("metadata_ms") = scans.map(Plans.metric(_, "metadataTime")).sum.toDouble
      m("result_rows") = Plans.rowsOut(plan).toDouble
    }
    m("rows_per_result") = m("rows_read") / math.max(1.0, m.getOrElse("result_rows", 0.0))
    t.counts.get(opId).foreach(m ++= _)
    m.toMap
  }

  /** Per-kind medians of every per-operation figure (kind → key → value). */
  def byKind(t: Tracer, h: Harness): Map[String, Map[String, Double]] =
    h.tracedOps.map { case (k, ids) =>
      val ops = ids.toSeq.map(perOp(t, _))
      k -> ops.flatMap(_.keys).distinct.map(key => key -> Stats.median(ops.flatMap(_.get(key)))).toMap
    }.toMap

  def table(t: Tracer, h: Harness, mix: Seq[String], blocks: (Double, Double),
      kindP50MeanRel: Double, referenceMs: Double): Seq[(String, Double, String)] = {
    val ops = h.tracedOps.map { case (k, ids) => k -> ids.toSeq.map(perOp(t, _)) }.toMap
    def med(kinds: Seq[String], key: String) = {
      val v = kinds.flatMap(ops.getOrElse(_, Nil)).flatMap(_.get(key))
      if (v.isEmpty) 0.0 else Stats.median(v)
    }
    Printed.map { case (name, unit, key, kinds) =>
      val v =
        if (name == "plans.files_per_bucket_max")
          mix.flatMap(ops.getOrElse(_, Nil)).flatMap(_.get(key)).maxOption.getOrElse(0.0)
        else med(if (kinds.isEmpty) mix else kinds, key)
      (name, v, unit)
    } ++ Seq(
      ("blocks.persisted_rdds", blocks._1, "count"),
      ("blocks.storage_mb", blocks._2, "MB"),
      ("exec.reference_ms", referenceMs, "ms"),
      ("traced.kind_p50_mean_rel", kindP50MeanRel, "x"))
  }

  private def q(s: String) = Main.quote(s)

  /** Writes the span file (one JSON object per span) and the layer table
    * (every per-layer metric with its layer and the end-to-end metric it
    * should move, self time per span name, and the end-to-end figures as
    * measured under tracing).
    */
  def write(a: Args, t: Tracer, h: Harness, layers: Seq[(String, Double, String)],
      e2e: Seq[(String, Double, String)], runS: Double): Unit = {
    val dir = Paths.get(a.out)
    Files.createDirectories(dir)
    val stem = s"${a.workload}-seed${a.seed}"
    val spans = t.spans.map(s =>
      s"""{"id": ${s.id}, "op": ${s.op}, "name": ${q(s.name)}, "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "wall_ms": ${s.wallMs}}""")
    Files.write(dir.resolve(s"$stem-spans.jsonl"), (spans.mkString("\n") + "\n").getBytes("UTF-8"))
    def mapping(n: String) = Mapping.find(m => n.startsWith(m._1)).map(m => (m._2, m._3)).getOrElse(("", ""))
    val rows = layers.map { case (n, v, u) =>
      val (layer, moves) = mapping(n)
      s"""    {"name": ${q(n)}, "value": ${Main.fmt(v)}, "unit": ${q(u)}, "layer": ${q(layer)}, "should_move": ${q(moves)}}"""
    }
    val self = t.selfMs.toSeq.sortBy(-_._2).map { case (n, v) => s"""    ${q(n)}: ${Main.fmt(v)}""" }
    val traced = e2e.map { case (n, v, u) => s"""    ${q(n)}: {"value": ${Main.fmt(v)}, "unit": ${q(u)}}""" }
    val kinds = byKind(t, h).toSeq.sortBy(_._1).map { case (k, m) =>
      s"""    ${q(k)}: {${m.toSeq.sortBy(_._1).map { case (n, v) => s"${q(n)}: ${Main.fmt(v)}" }.mkString(", ")}}"""
    }
    val json =
      s"""{
         |  "workload": ${q(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds}, "run_s": ${Main.fmt(runS)},
         |  "per_layer": [
         |${rows.mkString(",\n")}
         |  ],
         |  "by_kind": {
         |${kinds.mkString(",\n")}
         |  },
         |  "self_ms_by_span": {
         |${self.mkString(",\n")}
         |  },
         |  "end_to_end_under_tracing": {
         |${traced.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    Files.write(dir.resolve(s"$stem-layers.json"), json.getBytes("UTF-8"))
  }
}
