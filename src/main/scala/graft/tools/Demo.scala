package graft.tools

/** Runnable end-to-end demo of the procedure surface: imports the OSM and
  * shapefile fixtures, runs searches, exports and re-imports a shapefile.
  * Usage: runMain graft.tools.Demo [osmPath shpPath]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val osmPath = args.lift(0).getOrElse("/root/reference/example-data/osm/example.osm")
    val shpPath = args.lift(1).getOrElse("/root/reference/example-data/shp/highway.shp")
    val spark = graft.Sessions.local()

    val wh = java.nio.file.Files.createTempDirectory("graft-demo-wh").toString
    val proc = new graft.engine.SpatialProcedures(spark, wh)

    proc.importOSM("osm_ways", osmPath)
    println(s"[demo] OSM ways imported: ${proc.getFeatureCount("osm_ways")}")
    proc.layer("osm_ways").withWkt.df.select("id", "wkt").show(2, 80)

    proc.importShapefile("highway", shpPath)
    println(s"[demo] shapefile features imported: ${proc.getFeatureCount("highway")}")
    proc.getLayerBoundingBox("highway").show()

    println("[demo] closest roads to (13.0, 56.05):")
    proc.closest("highway", 13.0, 56.05, 0.2).select("id", "snap_distance").show(3)

    println("[demo] cql filter gtype=2 count=" + proc.cql("highway", "gtype = 2").count())

    graft.sources.Shapefile.exportShapefile(
      proc.layer("highway").df.limit(5), "/tmp/graft_demo_export")
    val back = graft.sources.Shapefile.importShapefile(spark, "/tmp/graft_demo_export.shp")
    println(s"[demo] shapefile export/import roundtrip rows: ${back.count()}")

    proc.updateWKT("osm_ways", "72090582", "LINESTRING (12.96 56.07, 12.97 56.08)")
    println("[demo] after updateWKT: " +
      proc.layer("osm_ways").withWkt.df.select("wkt").head().getString(0))

    println(s"[demo] layers: ${proc.layers().collect().map(_.getString(0)).mkString(", ")}")

    // hilbert-clustered point layer + window query (SFC layout path)
    import org.apache.spark.sql.functions._
    val pts = spark.range(10000)
      .withColumn("x", (col("id") * 37 % 3600).cast("double") / 10 - 180)
      .withColumn("y", (col("id") * 73 % 1800).cast("double") / 10 - 90)
    proc.catalog.createPointLayer("hilbert_pts", pts, "id", "x", "y", indexType = "hilbert")
    val hits = proc.catalog.getLayer("hilbert_pts").intersectsWindow(-10, -10, 10, 10).count()
    println(s"[demo] hilbert-clustered layer window hits: $hits")

    // auto-sized grid spatial join (broadcastBytes=0 pins the grid: a right
    // side estimated under it would broadcast)
    val layerDf = proc.catalog.getLayer("hilbert_pts").df
    val autoCell = graft.engine.SpatialJoin.suggestCellSize(layerDf, layerDf)
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")
    val selfJoin = graft.engine.SpatialJoin.join(layerDf, layerDf, "intersects")
    val selfPairs = selfJoin.collect().length
    // the plan that ran: the nested loops planned for rows over the cell
    // cap are dropped at run time when no row is over it
    val joinPlan = selfJoin.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    require("""(SortMergeJoin|HashJoin) \[[^\]]*__g_lcx""".r.findFirstIn(joinPlan).nonEmpty &&
      !joinPlan.contains("BroadcastNestedLoop"),
      s"auto grid join is not a cell equi-join:\n$joinPlan")
    spark.conf.unset("spark.graft.sqlJoin.broadcastBytes")
    println(f"[demo] auto grid join: cell=$autoCell%.3f, coincident-point pairs=$selfPairs")

    // streaming ingest of the same points into a second layer
    val streamDir = java.nio.file.Files.createTempDirectory("demo-stream").toString
    pts.write.mode("overwrite").parquet(s"$streamDir/in")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$streamDir/in").schema).parquet(s"$streamDir/in")
    val q = graft.streaming.PointStream.writeToLayer(
      graft.streaming.PointStream.canonicalize(stream, "id", "x", "y"),
      s"$streamDir/layer", s"$streamDir/ckpt")
    q.awaitTermination(120000)
    val streamed = new graft.engine.GeoFrame(spark.read.parquet(s"$streamDir/layer"))
    println(s"[demo] streamed layer rows: ${streamed.count()}, window hits: ${streamed.intersectsWindow(-10, -10, 10, 10).count()}")
    spark.stop()
  }
}
