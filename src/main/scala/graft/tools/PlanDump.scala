package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Round-9 measurement harness (guide §1): for each named query, write the
  * `explain("formatted")` physical plan to `outDir/<name>.txt` and time the
  * bench action (`count()`, same as graft.Bench) plus a noop-sink run
  * (`format("noop")` — computes every column, §1.4) so column-pruning under
  * count() can't hide a hot expression. Timings go to stderr; plans to files.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <name1,name2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val names = namesCsv.split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the graft rules, BindConstants included (a built session takes no
      // physical rule, so GraftOptimizations.install cannot add it)
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    // same session warmup as graft.Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"plandump: $name")
      var nRows = 0L
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        nRows = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        dt
      }
      // the plan that ran: adaptive execution applies the columnar rules
      // (BindConstants) and codegen stage by stage, which a plan that has
      // not run does not show
      val qe = fn(spark, sfDir).queryExecution
      SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        qe.explainString(ExplainMode.fromString("formatted")))
      spark.catalog.clearCache()
      System.err.println(f"[plandump] $name rows=$nRows counts=" +
        times.map(t => f"$t%.2f").mkString(","))
    }
    spark.stop()
  }
}
