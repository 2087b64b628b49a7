package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the same session time zone as graft.Verify and the tests
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the graft rules, BindConstants included (a built session takes no
      // physical rule, so GraftOptimizations.install cannot add it)
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
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, parquet footer reads) so the first timed
    // query doesn't absorb ~5s of one-time JVM/session init
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the run (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries are independent; drop their persisted blocks so cached
        // frames from 70+ queries don't accumulate into storage-eviction /
        // GC thrash that taxes every query after them (cleanup is outside
        // the timed window)
        spark.catalog.clearCache()
        // clearCache only covers CacheManager entries — localCheckpoint()ed
        // frames (graph fixpoints, CC label loops) persist at the RDD level
        // and leaked one resident snapshot per iteration per query into the
        // block store for the REST of the bench (measured: ev_bh 0.7 s in a
        // fresh session vs 14.3 s mid-bench, dd_substring_winnow 6.4 vs
        // 48.8 — storage-eviction tax, not query cost). Unpersist whatever
        // survived the query, still outside the timed window — BLOCKING,
        // so no deferred removal work bleeds into the next query's timed
        // region (round-9 ADVICE on blocking=false).
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        name -> dt
      }
    // stop FIRST, emit the result JSON as the very last stdout line: the
    // driver captures only the output tail, and Spark's shutdown logging
    // after the JSON used to push it out of the captured window
    // (BENCH_r04.json lost its total). Values rounded to ms to keep the
    // line compact at 137+ queries.
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    val total = BigDecimal(results.map(_._2).sum)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // the driver keeps only the LAST 2000 CHARS of stdout (every
    // BENCH_rNN.json tail is exactly 2000): at 340 queries the one-line
    // per-query map above (~8 KB) no longer fits that window at all
    // (PERF_r09.per_query = {} / n_common = 0 — the driver could not see a
    // single per-query number). Re-emit the SAME results as several SHORT
    // chunk lines (integer milliseconds, ~60 queries ≈ 1.3 KB per line,
    // each parseable on its own), ordered ASCENDING by time so the final
    // chunk — the one guaranteed to survive a 2000-char tail together with
    // the total line — carries the HEAVIEST queries, where a regression
    // matters. A full-stdout parser gets complete coverage; a tail-only
    // parser still sees the top ~40-100 by cost. Additions only: the long
    // line and both totals are unchanged, nothing is renamed or dropped.
    results.sortBy(_._2).grouped(60).zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk.map { case (k, v) =>
        "\"" + k + "\":" + math.round(v * 1000)
      }.mkString("{", ",", "}")
      println(s"""{"metric":"per_query_chunk","i":$i,"unit":"ms","queries":$body}""")
    }
    // A final, SHORT line always survives truncation and carries the
    // headline numbers on its own (r04/r05 lost "total" without it).
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"sf":"$sfDir"}""")
    System.out.flush()
  }
}
