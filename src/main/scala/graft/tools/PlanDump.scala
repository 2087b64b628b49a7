package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.Sessions

/** Round-9 measurement harness (guide §1): for each named query, write the
  * `explain("formatted")` physical plan to `outDir/<name>.txt` and time the
  * bench action (`count()`, same as graft.Bench) `SPARK_GRAFT_REPS` times
  * (default 3). Timings go to stderr; plans to files.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <name1,name2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val names = namesCsv.split(",").toSeq
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val times = Sessions.sweep(spark, sfDir, names.flatMap(Seq.fill(reps)(_)), "count") {
      (_, df) => df.count()
    }
    // the plan that ran: adaptive execution applies the columnar rules
    // (BindConstants) and codegen stage by stage, which a plan that has
    // not run does not show
    Sessions.sweep(spark, sfDir, names, "plan") { (name, df) =>
      val qe = df.queryExecution
      val rows = SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
      Files.writeString(Paths.get(s"$outDir/$name.txt"),
        qe.explainString(ExplainMode.fromString("formatted")))
      System.err.println(f"[plandump] $name rows=$rows counts=" +
        times.collect { case (`name`, t) => f"$t%.2f" }.mkString(","))
    }
    spark.stop()
  }
}
