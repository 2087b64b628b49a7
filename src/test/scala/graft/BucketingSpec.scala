package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.plans.Bucketing

/** Bucketed co-located joins: the join over two tables bucketed on the join
  * key must read buckets in place — no Exchange and no Sort on either join
  * input — and still produce the plain-join answer.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    (df.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case p => p
    }).toString()
  }

  test("bucketed join: zero Exchange, zero Sort, bucketed scans, plain-join answer") {
    val base = java.nio.file.Files.createTempDirectory("graft_bspec").toString
    val left = (1L to 2000L).map(k => (k, k % 7)).toDF("k", "v")
    val right = (1L to 500L).map(k => (k * 4, s"g${k % 3}")).toDF("k2", "grp")
    Bucketing.writeBucketed(left, "bspec_left", s"$base/l", 4, "k")
    Bucketing.writeBucketed(right, "bspec_right", s"$base/r", 4, "k2")

    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def joined = spark.table("bspec_left")
        .join(spark.table("bspec_right"), col("k") === col("k2"))
      val plan = finalPlan(joined)
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), s"scans not bucketed:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // Spark 3+ drops the per-bucket sort order from bucketed scans unless
      // the single-file-per-bucket legacy contract is asserted; with it (and
      // writeBucketed's one-file-per-bucket layout) the Sorts vanish too
      val planOrdered = withConf(
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")(finalPlan(joined))
      assert(!planOrdered.contains("Exchange"), s"still shuffles:\n$planOrdered")
      assert(!planOrdered.contains("Sort ["), s"bucketed join still sorts:\n$planOrdered")
      // and the answer is the plain join's
      val got = joined.select("k", "grp").as[(Long, String)].collect().toSet
      val want = (1L to 500L).filter(_ * 4 <= 2000).map(k => (k * 4, s"g${k % 3}")).toSet
      assert(got == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bspec_left")
      spark.sql("DROP TABLE IF EXISTS bspec_right")
    }
  }

  test("each bucket is a single file (sort-eliding layout)") {
    val base = java.nio.file.Files.createTempDirectory("graft_bspec2").toString
    val df = (1L to 1000L).toDF("k").repartition(11)   // messy input layout
    Bucketing.writeBucketed(df, "bspec_one", s"$base/t", 4, "k")
    try {
      val files = new java.io.File(s"$base/t").listFiles()
        .filter(f => f.getName.startsWith("part-"))
      assert(files.length == 4, files.map(_.getName).mkString(","))
      // every key present exactly once after the bucketed round trip
      assert(spark.table("bspec_one").count() == 1000L)
      assert(spark.table("bspec_one").distinct().count() == 1000L)
    } finally spark.sql("DROP TABLE IF EXISTS bspec_one")
  }
}
