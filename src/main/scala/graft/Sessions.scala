package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session configuration of the entry points, the tools and the
  * tests, and the one per-query sweep of graft.Bench, graft.Verify and
  * graft.tools.PlanDump.
  */
object Sessions {

  /** A local session on `cpus` cores (`SPARK_GRAFT_CPUS`, default 4) with
    * the graft rules registered through `spark.sql.extensions`, the only
    * registration path: it adds the logical rules and [[graft.plans.BindConstants]],
    * a physical rule that a built session cannot take. The `st_*` SQL
    * functions are registered too.
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet `ts` may arrive as TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      // Spark 4 defaults, pinned explicitly: AQE re-plans at runtime and its
      // skew-join splitter keeps one hot grid cell (sp_join_grid) or one hot
      // shuffle key from serializing a stage on a single straggler task
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // NOTE deliberately NOT setting adaptive.coalescePartitions.
      // initialPartitionNum globally: it cuts the heavy wedge shuffle
      // (gr_triangles 3×-rung 63→23 s by avoiding spill at 16 partitions)
      // but costs iterative queries dearly in local mode — every PageRank /
      // label-propagation round localCheckpoints 256 near-empty partitions
      // (measured: gr_pagerank 6.7→41 s). Raise it per heavy one-shot
      // query, not per session; on a real cluster the executor count, not
      // this constant, sets the floor
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.SpatialFunctions.register(s)
    s
  }

  /** Every query name in order, restricted by `SPARK_GRAFT_ONLY=a,b,...`
    * (an iteration aid: unset, a run covers every query). */
  def selected: Seq[String] = selected(sys.env.get("SPARK_GRAFT_ONLY"))

  /** The names of `only` (comma-separated) in order, or every name when
    * `only` is None. A name that is no query fails the selection: dropping
    * it would turn a typo into an empty sweep that reads as a clean one.
    */
  private[graft] def selected(only: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    only.map(_.split(",").toSet).fold(all) { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no query: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter(names)
    }
  }

  /** Warms the session, then builds each named query and runs `action` on
    * it, in order, and returns the seconds each took. A query that throws
    * is reported on stderr with its time and message, and its time is kept.
    * Cached and persisted blocks are dropped after each query, outside the
    * timed window.
    */
  def sweep(spark: SparkSession, sfDir: String, names: Seq[String], tag: String)
      (action: (String, DataFrame) => Unit): Seq[(String, Double)] = {
    // codegen and parquet footer reads, so the first timed query doesn't
    // absorb ~5s of one-time JVM/session init
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    names.map { name =>
      val t0 = System.nanoTime()
      val failure =
        try { action(name, SparkEntry.queries(name)(spark, sfDir)); None }
        catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      // per-query wall-clock on stderr: when a run comes back empty or
      // partial, its log shows how far the sweep got and which query ate
      // the budget
      System.err.println(failure.fold(f"[$tag] $name ok in $dt%.2fs")(e =>
        f"[$tag] $name failed after $dt%.2fs: ${e.getMessage}"))
      // queries are independent; drop their persisted blocks so cached
      // frames from 70+ queries don't accumulate into storage-eviction /
      // GC thrash that taxes every query after them
      spark.catalog.clearCache()
      // clearCache only covers CacheManager entries — localCheckpoint()ed
      // frames (graph fixpoints, CC label loops) persist at the RDD level
      // and leaked one resident snapshot per iteration per query into the
      // block store for the REST of the bench (measured: ev_bh 0.7 s in a
      // fresh session vs 14.3 s mid-bench, dd_substring_winnow 6.4 vs
      // 48.8 — storage-eviction tax, not query cost). BLOCKING, so no
      // deferred removal work bleeds into the next query's timed region.
      // No per-query System.gc(): 340 forced full-heap GCs cost the
      // sweep's time budget (A/B in OPTIMIZATION_r10.md, "Verify budget A/B")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      name -> dt
    }
  }
}
