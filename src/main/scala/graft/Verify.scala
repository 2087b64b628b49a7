package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val names = Sessions.selected
    // the oracle file is written BEFORE the sweep: a query that throws, or
    // a sweep cut short, leaves an oracle entry with no output beside it,
    // which tools/crosscheck.py counts as failed instead of never seeing
    // the name
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(names))
    Sessions.sweep(spark, sfDir, names, "verify") { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    spark.stop()
  }

  /** The JSON object `{name: oracle SQL}` of `names`, in order. */
  def oracleJson(names: Seq[String]): String =
    names.flatMap(n => SparkEntry.oracleSql.get(n).map(v => s"${jsonString(n)}: ${jsonString(v)}"))
      .mkString("{", ",", "}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in the oracle SQL would otherwise make a json.load of
  // the file fail and silently zero the correctness check.
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
