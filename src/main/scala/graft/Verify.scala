package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the graft rules, BindConstants included (a built session takes no
      // physical rule, so GraftOptimizations.install cannot add it)
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (iteration aid; the
    // driver never sets it, so its runs always cover every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the oracle SQL would otherwise make a json.load of
    // the file fail and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracle file is written BEFORE the sweep: a query that throws, or
    // a sweep cut short, leaves an oracle entry with no output beside it,
    // which tools/crosscheck.py counts as failed instead of never seeing
    // the name
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => selected(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // per-query wall-clock on stderr: when a driver gate run comes back
      // empty/partial, its own log shows how far the sweep got and which
      // query ate the budget (round-8 lesson — the empty artifact was
      // undiagnosable from driver logs alone)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case e: Throwable =>
        System.err.println(
          f"[verify] $name failed after ${(System.nanoTime() - t0) / 1e9}%.2fs: ${e.getMessage}")
      }
      // queries persist intermediates; clear between queries so 70+ dumps
      // don't accumulate into storage-eviction churn. clearCache misses
      // RDD-level persists (localCheckpoint loops) — unpersist those too.
      // NO per-query System.gc(): 340 forced full-heap GCs on
      // the exact path whose time budget keeps blowing the driver's gate
      // (round-9 verdict; CORRECTNESS came back empty twice, and the gc
      // was added unmeasured). The blocking unpersist already frees the
      // block store between queries. A/B numbers for this sweep are in
      // OPTIMIZATION_r10.md ("Verify budget A/B").
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
