package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{GeoFrame, SpatialAggs, SpatialJoin}
import graft.functions.st
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Degenerate-input behavior: every operator must return an empty (or
  * null-safe) result on an empty layer / corpus instead of throwing — the
  * reference's iterator pipes are trivially empty-safe (an empty traversal
  * yields an empty pipe), so the Spark surface owes users the same contract.
  * These pin the driver-side aggregate fetches (size estimates, extent
  * probes, convergence checksums) that would otherwise NPE on the null row
  * an empty aggregate returns.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyLayer: GeoFrame = {
    val df = Seq((1, 10.0, 20.0)).toDF("ck", "x", "y")
      .withColumn("id", col("ck").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .limit(0)
    new GeoFrame(df)
  }

  private def emptyDocs: DataFrame =
    Seq((1L, "a")).toDF("doc_id", "text").limit(0)

  test("point queries on an empty layer return empty, not NPE") {
    assert(emptyLayer.knnCandidates(10.0, 20.0, 5).df.count() == 0)
    assert(emptyLayer.closestPoints(10.0, 20.0, 5).df.count() == 0)
    assert(emptyLayer.withinDistanceKm(10.0, 20.0, 100.0).df.count() == 0)
    assert(emptyLayer.intersectsWindow(-10, -10, 10, 10).df.count() == 0)
    assert(emptyLayer.closestEdges(10.0, 20.0, 1.0).df.count() == 0)
  }

  test("suggestCellSize and spatial joins handle an empty side") {
    val e = emptyLayer.df
    assert(SpatialJoin.suggestCellSize(e, e) == 1.0)
    assert(SpatialJoin.gridJoin(e, e, 10.0, "intersects").count() == 0)
    assert(SpatialJoin.broadcastJoin(e, e, "intersects").count() == 0)
  }

  test("density islands on an empty layer return no islands") {
    assert(SpatialAggs.densityIslandsExact(emptyLayer.df, 1.0).count() == 0)
    assert(SpatialAggs.densityIslandsScalable(emptyLayer.df, 1.0).count() == 0)
  }

  test("dedup operators on an empty corpus emit zero rows") {
    val e = emptyDocs
    assert(Dedup.exactGroups(e, "doc_id", "text").count() == 0)
    assert(Dedup.exactDedup(e, "doc_id", "text").count() == 0)
    assert(Dedup.minhashNearDupPairs(e, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.simhashNearDupPairs(e, "doc_id", "text", 3).count() == 0)
    assert(Dedup.shingleJaccardPairs(e, "doc_id", "text", 0.5).count() == 0)
    assert(Dedup.ngramJaccardPairs(e, "doc_id", "text", 0.5).count() == 0)
  }

  test("dedup operators tolerate null and empty texts") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "),
      (4L, "real content here")).toDF("doc_id", "text")
    // no throw; null/empty docs may pair with each other but never with content
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
    Dedup.shingleJaccardPairs(docs, "doc_id", "text", 0.5).collect()
    Dedup.exactGroups(docs, "doc_id", "text").collect()
  }

  test("verify broadcast gate is byte-based: join fallback returns identical pairs") {
    // few-but-huge documents are the hazard the byte gate exists for: a row
    // COUNT gate would broadcast them; here a tiny byte cap forces the
    // shuffle-join verify, which must agree with the broadcast verify
    val docs = (1L to 12L).map { i =>
      val base = (1 to 400).map(w => s"tok${(w + i / 7) % 37}").mkString(" ")
      (i, base)
    }.toDF("doc_id", "text")
    def run() = Dedup.shingleJaccardPairs(docs, "doc_id", "text", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val viaBroadcast = run()
    spark.conf.set("spark.graft.dedup.broadcastBytes", "1")
    try {
      val viaJoin = run()
      assert(viaJoin == viaBroadcast)
      assert(viaJoin.nonEmpty, "fixture should produce near-dup pairs")
    } finally spark.conf.unset("spark.graft.dedup.broadcastBytes")
  }

  test("text analysis is null-safe") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "hello world"))
      .toDF("doc_id", "text")
    val out = docs.select(
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).collect()
    assert(out.length == 3)   // no throw on null/empty
  }

  test("similarity search over an empty embedding table returns empty") {
    val e = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding").limit(0)
    val q = Array(1.0, 0.0)
    assert(Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 5).count() == 0)
  }

  test("getLayer on an unknown name raises a clear error naming alternatives") {
    val wh = java.nio.file.Files.createTempDirectory("wh-missing").toString
    val proc = new graft.engine.SpatialProcedures(spark, wh)
    proc.addWKTLayer("roads", Seq((1, "POINT (1 2)")).toDF("id", "wkt"), "id", "wkt")
    val e = intercept[IllegalArgumentException](proc.layer("raods"))
    assert(e.getMessage.contains("raods") && e.getMessage.contains("roads"),
      s"unhelpful error: ${e.getMessage}")
  }
}

/** The advertised `spark.sql.extensions=graft.plans.GraftSparkExtensions`
  * registration path (README, BboxConjunctRule Scaladoc) — a fresh session
  * built with only that config must get the envelope-conjunct rule, with no
  * call to GraftOptimizations.install.
  */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("spark.sql.extensions registers BboxConjunctRule in a new session") {
    withExtensionsSession { s2 =>
      val pts = Seq((1, 1.0, 1.0), (2, 20.0, 20.0)).toDF("id", "x", "y")
        .withColumn("geometry", st.makePoint(col("x"), col("y")))
        .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      val dir = java.nio.file.Files.createTempDirectory("extspec").toString
      pts.write.mode("overwrite").parquet(dir)
      val rect = graft.geom.GeomCodec.toWkb(graft.geom.GeomCodec.fromWkt(
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
      val q = s2.read.parquet(dir)
        .filter(call_udf("st_intersects", col("geometry"), lit(rect)))
      val optimized = q.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("minx"),
        s"extensions-registered rule did not fire:\n$optimized")
      assert(q.select("id").collect().map(_.getInt(0)).toSet == Set(1))
    }
  }

  test("eleventh-session operators are empty/degenerate-input safe") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.pipeline.Packing.shardAssign(emptyDocs, "doc_id", "text", 4, "s:")
      .count() == 0)
    val emptyEvents = Seq.empty[(Long, Long, Long, String, Double)]
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    assert(graft.pipeline.Events.transitions(emptyEvents).count() == 0)
    assert(graft.pipeline.Events.saltedUserMaxHits(emptyEvents, 4).count() == 0)
    assert(graft.pipeline.Events.histQuantiles(emptyEvents).count() == 0)
    assert(graft.pipeline.Events.hllRollup(
      Seq.empty[(String, Long, Long)].toDF("g", "day", "h")).count() == 0)
    val emptyPolys = Seq.empty[(Long, Array[Byte])].toDF("id", "geometry")
      .withColumn("bbox", st.bboxOf(col("geometry")))
    assert(SpatialAggs.zonalStats(emptyPolys, 10.0).count() == 0)
    // profile on an all-null column: n counted, distinct 0, max_freq 0
    val nulls = Seq((None: Option[Long]), None, None).toDF("a")
    val prof = graft.pipeline.Profiling.columnProfile(nulls, Seq("a"))
      .as[(String, Long, Long, Long, Long, Option[Double])].head()
    assert(prof._2 == 3 && prof._3 == 3 && prof._4 == 0 && prof._5 == 0)
    // single-doc / single-frame corner: no pairs, no crash
    val oneFrame = Seq((1L, 0, Seq(1f))).toDF("media_id", "frame_idx", "pixels")
    assert(graft.pipeline.Multimodal.videoNearDupPairs(oneFrame, 0.5).count() == 0)
  }
}
