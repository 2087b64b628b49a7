package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val results = Sessions.sweep(spark, sfDir, Sessions.selected, "bench") {
      (_, df) => df.count()
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
