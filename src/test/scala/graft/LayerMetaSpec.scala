package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.engine.{GeoFrame, SpatialProcedures}
import graft.functions.st
import graft.geom.GeomCodec
import graft.plans.SpatialLayout

/** What the catalog records in `layer.json` (schema, extent, row count) and
  * the layout sidecar records beside a clustered layer (schema), and what
  * it buys: opening a layer and sizing a k-NN window run no Spark job, and
  * each lookup scans the layer once. The recorded extent is only an
  * estimate, so layer files without it, and layers whose extent went stale
  * through appends, must answer exactly as a full scan does.
  */
class LayerMetaSpec extends SparkSpec {
  import spark.implicits._

  /** 70% of the points in one Gaussian hot spot at (10, 20), the rest
    * uniform over [-50, 50] × [-30, 30].
    */
  private def hotPoints(n: Int): DataFrame = {
    val r = new scala.util.Random(7)
    (0 until n).map { i =>
      if (i % 10 < 7) (s"p$i", 10 + r.nextGaussian() * 0.5, 20 + r.nextGaussian() * 0.5)
      else (s"p$i", r.nextDouble() * 100 - 50, r.nextDouble() * 60 - 30)
    }.toDF("k", "lon", "lat")
  }

  private def freshProcs(): (SpatialProcedures, String) = {
    val wh = Files.createTempDirectory("graft-layer-meta").toString
    (new SpatialProcedures(spark, wh), wh)
  }

  private lazy val hot: SpatialProcedures = {
    val (procs, _) = freshProcs()
    procs.addLayer("hot", "Hilbert", hotPoints(4000), "k", "lon:lat")
    procs
  }

  /** The plan of each Spark job `f` starts, one entry per job, with the SQL
    * execution each job belongs to. Jobs are matched by a job group unique
    * to this call, so work from other threads is not counted.
    */
  private def jobsOf[T](f: => T): (T, Seq[(Long, String)]) = {
    val group = s"layer-meta-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[(String, Long)]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
            .map(_.toLong).getOrElse(-1L)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try f finally sc.clearJobGroup()
      GraftTestConf.drainListeners(sc)
      (out, jobs.asScala.toSeq.collect { case (`group`, exec) =>
        (exec, Option(plans.get(exec)).getOrElse("")) })
    } finally sc.removeSparkListener(listener)
  }

  private def fullScanTopK(layer: DataFrame, lon: Double, lat: Double, k: Int): Seq[String] =
    layer.withColumn("distance", st.orthodromicKm(lit(lon), lit(lat), col("x"), col("y")))
      .orderBy(col("distance"), col("id")).limit(k).select("id").as[String].collect().toSeq

  private def knnIds(layer: GeoFrame, lon: Double, lat: Double, k: Int): Seq[String] =
    layer.knnCandidates(lon, lat, k).df.orderBy(col("distance"), col("id")).limit(k)
      .select("id").as[String].collect().toSeq

  test("opening a catalog layer starts no job; bbox, intersects and windowViaCurve run one each") {
    val procs = hot   // build the fixture outside the counted call
    val (layer, open) = jobsOf(procs.layer("hot"))
    assert(open.isEmpty, s"opening the layer ran ${open.size} jobs")
    assert(layer.meta.flatMap(_.extent).map(_.count).contains(4000L))
    val window = "POLYGON ((9 19, 11 19, 11 21, 9 21, 9 19))"
    val expected = layer.df.filter(col("x").between(9, 11) && col("y").between(19, 21)).count()
    for ((what, run) <- Seq[(String, () => Array[org.apache.spark.sql.Row])](
        "bbox" -> (() => hot.bbox("hot", 9, 19, 11, 21).collect()),
        "intersects" -> (() => hot.intersects("hot", window).collect()),
        "windowViaCurve" -> (() => hot.layer("hot").windowViaCurve(9, 19, 11, 21).df.collect()))) {
      val (rows, jobs) = jobsOf(run())
      assert(rows.length == expected, what)
      assert(jobs.size == 1, s"$what ran ${jobs.size} jobs")
    }
  }

  test("knnCandidates runs one TakeOrdered job per verification round and no aggregate") {
    val layer = hot.layer("hot")
    // hot spot: the recorded extent sizes a window that verifies at once
    val (atSpot, spotJobs) = jobsOf(knnIds(hot.layer("hot"), 10.0, 20.0, 10))
    // the consuming collect in knnIds is the second job
    assert(spotJobs.size == 2, s"hot-spot kNN ran ${spotJobs.size} jobs")
    assert(atSpot == fullScanTopK(layer.df, 10.0, 20.0, 10))
    // far outside the data: the window doubles over several rounds
    val (far, farJobs) = jobsOf(hot.layer("hot").knnCandidates(80.0, 0.0, 10))
    assert(farJobs.size >= 2, s"expected window growth, got ${farJobs.size} rounds")
    assert(farJobs.map(_._1).distinct.size == farJobs.size,
      "each round must be its own single-job execution")
    farJobs.foreach { case (_, plan) =>
      assert(plan.contains("TakeOrderedAndProject"), plan)
      assert(!plan.contains("HashAggregate"), plan)
    }
    assert(far.df.orderBy(col("distance"), col("id")).limit(10).select("id").as[String]
      .collect().toSeq == fullScanTopK(layer.df, 80.0, 0.0, 10))
    // a derived frame drops the layer's extent: an empty filter result is
    // found empty by the extent/count aggregate, with no doubling rounds
    val (none, noneJobs) = jobsOf(layer.filterExpr("x > 1000").knnCandidates(10.0, 20.0, 5))
    assert(noneJobs.nonEmpty && noneJobs.forall(_._2.contains("HashAggregate")),
      noneJobs.map(_._2))
    assert(none.df.count() == 0)
  }

  test("the recorded schema equals the inferred one for hilbert, bbox, WKT and props layers") {
    val (procs, wh) = freshProcs()
    val pts = hotPoints(200)
    procs.addLayer("p_hilbert", "Hilbert", pts, "k", "lon:lat")
    procs.addPointLayerXY("p_bbox", pts, "k", "lon", "lat")
    procs.addWKTLayer("wkt", pts.select(col("k"),
      concat(lit("POINT ("), col("lon"), lit(" "), col("lat"), lit(")")).as("wkt")), "k", "wkt")
    procs.addPointLayerXY("props", pts.withColumn("v", col("lon") * 2)
      .withColumn("tag", lit("t")), "k", "lon", "lat")
    for (name <- Seq("p_hilbert", "p_bbox", "wkt", "props")) {
      val layer = procs.layer(name)
      assert(layer.meta.flatMap(_.schema).nonEmpty, name)
      assert(layer.df.schema == spark.read.parquet(s"$wh/$name/data").schema, name)
    }
    assert(procs.layer("props").df.columns.contains("props"))
    assert(procs.layer("p_hilbert").df.columns.contains("__sfc"))
  }

  test("a layer.json in the old format (no schema, extent or count) opens and answers the same") {
    val (procs, wh) = freshProcs()
    val pts = hotPoints(1000)
    procs.addPointLayerXY("recorded", pts, "k", "lon", "lat")
    procs.addPointLayerXY("old", pts, "k", "lon", "lat")
    Files.writeString(Paths.get(wh, "old", "layer.json"),
      """{"name":"old","gtype":1,"crs":"EPSG:4326","encoder":"point-xy",""" +
        """"indexType":"bbox","bucketShift":26,"attributes":[]}""")
    val old = procs.layer("old")
    assert(old.meta.exists(m => m.schema.isEmpty && m.extent.isEmpty))
    val recorded = procs.layer("recorded")
    assert(old.df.schema == recorded.df.schema)
    def bboxIds(name: String) =
      procs.bbox(name, 9, 19, 11, 21).select("id").as[String].collect().toSet
    assert(bboxIds("old") == bboxIds("recorded"))
    assert(bboxIds("old").nonEmpty)
    for ((lon, lat) <- Seq((10.0, 20.0), (-40.0, 25.0), (80.0, 0.0)))
      assert(knnIds(old, lon, lat, 10) == knnIds(recorded, lon, lat, 10), s"($lon, $lat)")
    def within(name: String) = procs.withinDistance(name, 10.0, 20.0, 60.0)
      .select("id", "distance").as[(String, Double)].collect().toSeq
    assert(within("old") == within("recorded"))
    assert(within("old").nonEmpty)
  }

  /** Canonical point rows far outside the hot layer's recorded extent. */
  private def farRows: DataFrame =
    (0 until 30).map(i => (s"far$i", 120.0 + i * 0.01, 60.0 + (i % 5) * 0.02))
      .toDF("id", "x", "y")
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(graft.geom.GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .select("id", "geometry", "gtype", "bbox", "x", "y")

  test("after an append outside the recorded extent, knnCandidates equals the full-scan top-k") {
    val (procs, _) = freshProcs()
    procs.addPointLayerXY("grow", hotPoints(2000), "k", "lon", "lat")
    val before = procs.layer("grow").meta.flatMap(_.extent).get
    procs.catalog.appendToLayer("grow", farRows)
    val layer = procs.layer("grow")
    // the recorded extent is stale on purpose: the append ran no job
    assert(layer.meta.flatMap(_.extent).contains(before))
    for ((lon, lat) <- Seq((120.1, 60.04), (120.0, 60.0), (119.0, 59.0)); k <- Seq(5, 30, 40)) {
      val got = knnIds(layer, lon, lat, k)
      assert(got == fullScanTopK(layer.df, lon, lat, k), s"($lon, $lat) k=$k")
    }
  }

  test("getFeatureCount and getLayerBoundingBox count appended rows; removal records its count") {
    val (procs, _) = freshProcs()
    procs.addPointLayerXY("grow", hotPoints(500), "k", "lon", "lat")
    val recorded = procs.layer("grow").meta.flatMap(_.extent).get
    // a column the layer did not have joins the recorded schema
    procs.catalog.appendToLayer("grow", farRows.withColumn("tag", lit("far")))
    assert(procs.layer("grow").df.filter(col("tag") === "far").count() == 30L)
    assert(procs.getFeatureCount("grow") == 530L)
    val bb = procs.getLayerBoundingBox("grow").head()
    assert(bb.getDouble(2) == 120.0 + 29 * 0.01 && bb.getDouble(3) == 60.0 + 4 * 0.02)
    assert(bb.getDouble(0) == recorded.minx && bb.getDouble(1) == recorded.miny)
    assert(procs.removeNodes("grow", Seq("far0", "far1", "p0")) == 3L)
    assert(procs.getFeatureCount("grow") == 527L)
    assert(procs.layer("grow").meta.flatMap(_.extent).contains(recorded.copy(count = 527L)))
  }

  /** Exchanges that range-partition into more than one partition: each
    * needs a sampling job over its input first. */
  private def multiRangeExchanges(plan: String): Seq[String] =
    """rangepartitioning\(.*?, (\d+)\)""".r.findAllMatchIn(plan)
      .filter(_.group(1).toInt > 1).map(_.matched).toSeq

  test("withinDistance and closest run two jobs, sort in one partition and match the full scan") {
    val procs = hot
    val layer = procs.layer("hot")
    val (lon, lat) = (10.0, 20.0)
    val (within, withinJobs) = jobsOf(procs.withinDistance("hot", lon, lat, 60.0)
      .select("id", "distance").as[(String, Double)].collect().toSeq)
    val wantWithin = layer.df
      .withColumn("distance", st.orthodromicKm(lit(lon), lit(lat), col("x"), col("y")))
      .filter(col("distance") <= 60.0).select("id", "distance").as[(String, Double)]
      .collect().toSet
    assert(within.nonEmpty && within.toSet == wantWithin && within.size == wantWithin.size)
    assert(within.map(_._2) == within.map(_._2).sorted, "withinDistance rows out of order")
    val (closest, closestJobs) = jobsOf(procs.closest("hot", lon, lat, 0.5)
      .select("id", "snap_distance").as[(String, Double)].collect().toSeq)
    val wantClosest = layer.df
      .withColumn("snap_distance", st.distance(st.closestPointTo(col("geometry"), lon, lat),
        lit(GeomCodec.toWkb(GeomCodec.point(lon, lat)))))
      .filter(col("snap_distance") <= 0.5).select("id", "snap_distance")
      .as[(String, Double)].collect().toSet
    assert(closest.nonEmpty && closest.toSet == wantClosest && closest.size == wantClosest.size)
    assert(closest.map(_._2) == closest.map(_._2).sorted, "closest rows out of order")
    for ((what, jobs) <- Seq("withinDistance" -> withinJobs, "closest" -> closestJobs)) {
      assert(jobs.size == 2, s"$what ran ${jobs.size} jobs")
      jobs.foreach { case (_, plan) =>
        assert(multiRangeExchanges(plan).isEmpty, s"$what samples ranges:\n$plan")
      }
    }
  }

  test("kNN verifies in one round at a hot spot and in the sparse background, and hands back its rows") {
    val layer = hot.layer("hot")
    for ((lon, lat) <- Seq((10.0, 20.0), (-30.0, -15.0))) {
      val (knn, rounds) = jobsOf(hot.layer("hot").knnCandidates(lon, lat, 10))
      assert(rounds.size == 1, s"($lon, $lat) took ${rounds.size} rounds")
      val (top, consume) = jobsOf(knn.df.orderBy(col("distance"), col("id")).limit(10)
        .select("id").as[String].collect().toSeq)
      assert(top == fullScanTopK(layer.df, lon, lat, 10), s"($lon, $lat)")
      assert(consume.size == 1, s"($lon, $lat) consumed in ${consume.size} jobs")
      val plan = consume.head._2
      assert(plan.contains("LocalTableScan") && !plan.toLowerCase.contains("parquet"), plan)
    }
  }

  test("kNN stays exact when more than k rows tie within the slack of the k-th") {
    val (procs, _) = freshProcs()
    val k = 5
    val slackKm = 0.001
    // the k-1 nearest at distinct distances, 3k copies of one point at the
    // k-th distance (11.11705 km), then points less than slackKm / 2 beyond
    // it (0.1 m) whose ids sort first: rounded to metres they tie with the
    // k-th, so an ordering on round(distance, 3) ranks them above the ties
    val near = (1 until k).map(i => (s"n$i", 0.01 * i, 0.0))
    val tied = (0 until 3 * k).map(i => (f"t$i%02d", 0.099978, 0.0))
    val beyond = (0 until k).map(i => (s"b$i", 0.099979, 0.0))
    val far = (0 until 40).map(i => (s"z$i", 1.0 + i * 0.1, 0.5))
    procs.addPointLayerXY("ties", (near ++ tied ++ beyond ++ far).toDF("k", "lon", "lat"),
      "k", "lon", "lat")
    val layer = procs.layer("ties")
    val knn = layer.knnCandidates(0.0, 0.0, k, slackKm)
    assert(knn.df.inputFiles.nonEmpty, "the tie case must fall back to the lazy window scan")
    assert(knnIds(layer, 0.0, 0.0, k) == fullScanTopK(layer.df, 0.0, 0.0, k))
    def roundedTopK(d: DataFrame): Seq[(String, Double)] =
      d.withColumn("dist_km", round(col("distance"), 3)).orderBy(col("dist_km"), col("id"))
        .limit(k).select("id", "dist_km").as[(String, Double)].collect().toSeq
    val rounded = roundedTopK(knn.df)
    assert(rounded == roundedTopK(layer.df
      .withColumn("distance", st.orthodromicKm(lit(0.0), lit(0.0), col("x"), col("y")))))
    assert(rounded.exists(_._1.startsWith("b")),
      s"fixture: the rounded top-k should pick a row past the ties, got $rounded")
  }

  test("every clustered-layout writer records the schema a read would infer") {
    val dir = Files.createTempDirectory("graft-layout-schema").toString
    val pts = hotPoints(2000).toDF("id", "x", "y")
      .withColumn("v", expr("cast(substring(id, 2) as long)"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    def recordedIsInferred(p: String, after: String): Unit = {
      val recorded = SpatialLayout.readLayoutMeta(spark, p).flatMap(_.schema)
      assert(recorded.contains(spark.read.parquet(p).schema), s"after $after")
    }
    SpatialLayout.writeClustered(pts, s"$dir/ranged")
    recordedIsInferred(s"$dir/ranged", "writeClustered")
    val p = s"$dir/buckets"
    SpatialLayout.writeClusteredBuckets(pts.filter(col("v") % 4 === 0), p)
    recordedIsInferred(p, "writeClusteredBuckets")
    SpatialLayout.appendClusteredBuckets(pts.filter(col("v") % 4 === 1), p)
    recordedIsInferred(p, "appendClusteredBuckets")
    SpatialLayout.appendClusteredBuckets(pts.filter(col("v") % 4 === 1), s"$dir/fresh")
    recordedIsInferred(s"$dir/fresh", "appendClusteredBuckets into a new path")
    assert(SpatialLayout.upsertClusteredBuckets(pts.filter(col("v") % 40 === 2), p) == "partial")
    recordedIsInferred(p, "a partial upsert")
    assert(SpatialLayout.compactBuckets(spark, p, maxFilesPerBucket = 1) > 0)
    recordedIsInferred(p, "compactBuckets")
    assert(SpatialLayout.deleteFromClusteredBuckets(spark, p, Seq("p0", "p4")) == 2L)
    recordedIsInferred(p, "deleteFromClusteredBuckets")
    assert(SpatialLayout.upsertClusteredBuckets(pts.filter(col("v") % 4 === 3), p) == "full")
    recordedIsInferred(p, "a full upsert")
  }

  test("openClustered reads with the recorded schema: no inference job, same rows") {
    val dir = Files.createTempDirectory("graft-open-clustered").toString
    val pts = hotPoints(2000).toDF("id", "x", "y")
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val p = s"$dir/pts"
    SpatialLayout.writeClusteredBuckets(pts, p)
    val (layer, open) = jobsOf(GeoFrame.openClustered(spark, p))
    assert(open.isEmpty, s"opening the layer ran ${open.size} jobs")
    assert(layer.df.schema == spark.read.parquet(p).schema)
    def windowIds(l: GeoFrame) =
      l.windowViaCurve(9, 19, 11, 21).df.select("id").as[String].collect().toSet
    val want = pts.filter(col("x").between(9, 11) && col("y").between(19, 21))
      .select("id").as[String].collect().toSet
    assert(want.nonEmpty && windowIds(layer) == want)
    // a sidecar without the schema falls back to inference, which is a job
    SpatialLayout.writeLayoutMeta(spark, p, SpatialLayout.LayoutMeta("hilbert", 26))
    val (inferred, inferJobs) = jobsOf(GeoFrame.openClustered(spark, p))
    assert(inferJobs.nonEmpty, "schema inference ran no job; the check above proves nothing")
    assert(inferred.df.schema == layer.df.schema && windowIds(inferred) == want)
  }
}
