package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import graft.geom.GeomCodec
import graft.pipeline.Groups

/** Spatial aggregates (SURVEY §2.4). The folds are associative, so Spark's
  * partial aggregation (map-side combine) applies — each executor folds its
  * partition, only partial geometries cross the shuffle.
  */
object SpatialAggs {

  /** Pairwise fold of `op` over WKB geometries, nulls skipped: each row is
    * combined with the running geometry, partial results the same way.
    */
  private class GeomFold(op: (Geometry, Geometry) => Geometry)
      extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = null

    override def reduce(buf: Array[Byte], in: Array[Byte]): Array[Byte] = {
      if (in == null) buf
      else if (buf == null) in
      else GeomCodec.toWkb(op(GeomCodec.fromWkb(buf), GeomCodec.fromWkb(in)))
    }

    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = reduce(a, b)
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Union of a group's geometries (reference:
    * pipes/processing/UnionAll.java:30-40) as a pairwise JTS `union` fold
    * (union is associative and commutative, so partial aggregation applies).
    */
  def unionAgg(c: Column): Column =
    udaf(new GeomFold(_.union(_))).apply(c)

  def intersectAgg(c: Column): Column =
    udaf(new GeomFold(_.intersection(_))).apply(c)

  /** Exact DensityIslands parity mode: the reference's greedy sequential
    * single-link fold (reference: DensityIslands.java:26-49) — each geometry
    * merges into the FIRST island within `density`, else founds a new one.
    * Order-dependent by construction, so it runs on one partition; use only
    * for parity tests / small groups.
    * Output: island_id, geometry (union), members (ids), n_members.
    */
  def densityIslandsExact(df: DataFrame, density: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col("id").cast("string"), col("geometry"))
      .as[(String, Array[Byte])]
    val out = rows.coalesce(1).mapPartitions { it =>
      val islands = scala.collection.mutable.ArrayBuffer.empty[(Geometry, scala.collection.mutable.ArrayBuffer[String])]
      it.foreach { case (id, wkb) =>
        val g = GeomCodec.fromWkb(wkb)
        val idx = islands.indexWhere(_._1.distance(g) <= density)
        if (idx >= 0) {
          val isl = islands(idx)
          islands(idx) = (isl._1.union(g), isl._2 += id)
        } else {
          islands += ((g, scala.collection.mutable.ArrayBuffer(id)))
        }
      }
      islands.iterator.zipWithIndex.map { case ((g, ids), i) =>
        (i.toLong, GeomCodec.toWkb(g), ids.toSeq, ids.size.toLong)
      }
    }
    out.toDF("island_id", "geometry", "members", "n_members")
  }

  /** Scalable DensityIslands: same single-link connectivity, but
    * order-independent and distributed. Points within `density` of each other
    * land in the same island via grid-bucket join + connected components
    * over the candidate-pair graph ([[Groups.ccLabels]]). Suitable at
    * 100 TB where the greedy fold is not.
    * Island MEMBERSHIP matches the transitive closure of the reference's
    * merge relation; island ids/geometry unions are canonicalized by min id.
    */
  def densityIslandsScalable(df: DataFrame, density: Double, maxIterations: Int = 25): DataFrame = {
    val cell = density // grid cell = density ⇒ point neighbors are within 1 cell
    val hasXY = df.columns.contains("x") && df.columns.contains("y")

    val edges: DataFrame = if (hasXY) {
      // point fast path: same-or-adjacent-cell candidates, refined by pure
      // column distance math (codegen, no JTS decode)
      val pts = df.select(col("id").cast("string").as("id"),
          col("x").as("px"), col("y").as("py"))
        .withColumn("cx", floor(col("px") / cell))
        .withColumn("cy", floor(col("py") / cell))
      val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
      val neighborCells = offsets.map { case (dx, dy) =>
        struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
      }
      val expanded = pts.withColumn("cell", explode(array(neighborCells: _*)))
        .select(col("id"), col("px"), col("py"),
          col("cell.cx").as("ncx"), col("cell.cy").as("ncy"))
      val right = pts.select(col("id").as("rid"),
        col("px").as("rpx"), col("py").as("rpy"), col("cx").as("rcx"), col("cy").as("rcy"))
      expanded.join(right,
          col("ncx") === col("rcx") && col("ncy") === col("rcy") && col("id") < col("rid"))
        .filter(sqrt((col("px") - col("rpx")) * (col("px") - col("rpx")) +
                     (col("py") - col("rpy")) * (col("py") - col("rpy"))) <= density)
        .select(col("id").as("src"), col("rid").as("dst"))
        .distinct()
    } else {
      // non-point geometries: two bboxes within `density` can have min-corners
      // arbitrarily many cells apart, so corner bucketing misses edges. Instead
      // replicate LEFT to every cell overlapped by its bbox expanded by
      // `density` and RIGHT to its plain bbox cells — any pair within density
      // then shares ≥1 cell (like SpatialJoin's grid). Rows whose bbox would
      // fan out past the cap pair via broadcast instead of exploding.
      val jdist = udf((a: Array[Byte], b: Array[Byte]) =>
        GeomCodec.fromWkb(a).distance(GeomCodec.fromWkb(b)))
      val base = df.select(col("id").cast("string").as("id"), col("geometry"), col("bbox"))
      def cellsUdf(expand: Double) =
        udf((minx: Double, miny: Double, maxx: Double, maxy: Double) => {
          val x0 = math.floor((minx - expand) / cell).toLong
          val x1 = math.floor((maxx + expand) / cell).toLong
          val y0 = math.floor((miny - expand) / cell).toLong
          val y1 = math.floor((maxy + expand) / cell).toLong
          (for (cx <- x0 to x1; cy <- y0 to y1) yield (cx, cy)).toArray
        })
      val cap = 256L
      val fanCol =
        (floor((col("bbox")("maxx") + density) / cell) - floor((col("bbox")("minx") - density) / cell) + 1) *
        (floor((col("bbox")("maxy") + density) / cell) - floor((col("bbox")("miny") - density) / cell) + 1)
      val norm = base.filter(fanCol <= cap)
      val big = base.filter(fanCol > cap)
      val lrep = norm.withColumn("c", explode(cellsUdf(density)(
        col("bbox")("minx"), col("bbox")("miny"), col("bbox")("maxx"), col("bbox")("maxy"))))
      val rrep = norm.select(col("id").as("rid"), col("geometry").as("rgeom"), col("bbox").as("rbbox"))
        .withColumn("c", explode(cellsUdf(0.0)(
          col("rbbox")("minx"), col("rbbox")("miny"), col("rbbox")("maxx"), col("rbbox")("maxy"))))
      val gridPairs = lrep.join(rrep, lrep("c") === rrep("c") && col("id") < col("rid"))
        .select(col("id"), col("geometry"), col("rid"), col("rgeom"))
        .distinct()
      // every pair involving an oversized row, canonicalized src<dst
      val bigPairs = base.join(
          broadcast(big.select(col("id").as("rid"), col("geometry").as("rgeom"))),
          col("id") =!= col("rid"))
        .select(least(col("id"), col("rid")).as("id"),
          when(col("id") < col("rid"), col("geometry")).otherwise(col("rgeom")).as("geometry"),
          greatest(col("id"), col("rid")).as("rid"),
          when(col("id") < col("rid"), col("rgeom")).otherwise(col("geometry")).as("rgeom"))
        .distinct()
      gridPairs.unionByName(bigPairs)
        .filter(jdist(col("geometry"), col("rgeom")) <= density)
        .select(col("id").as("src"), col("rid").as("dst"))
        .distinct()
    }

    // Connected components over the candidate-edge graph (driver union-find
    // below Groups.ccLabels' edge limit, distributed hash-to-min above it).
    // String ids keep the island key the string-minimum member.
    val labels = Groups.ccLabels(df.select(col("id").cast("string").as("id")), edges,
      maxIterations = maxIterations)
    df.select(col("id").cast("string").as("id"), col("geometry"))
      .join(labels, "id")
      .groupBy(col("label").as("island_key"))
      .agg(unionAgg(col("geometry")).as("geometry"),
        sort_array(collect_list(col("id"))).as("members"),
        count(lit(1)).as("n_members"))
  }

  /** Fixed-grid heatmap tiles over a point layer: per-cell point count and
    * exact value mass — the tile-aggregation pass behind density heatmaps /
    * choropleth serving (the raster analog of the reference's density
    * islands, but grid-keyed so it is ONE partial-aggregated shuffle at any
    * scale: map-side combine reduces each partition to ≤ |cells| rows before
    * the exchange). The value sum runs in decimal so the per-cell mass is
    * exact and reproducible regardless of partitioning/accumulation order.
    */
  def gridHeatmap(pts: DataFrame, valueCol: String, cellDeg: Double,
      minx: Double = -180.0, miny: Double = -90.0): DataFrame =
    pts.groupBy(
        floor((col("x") - minx) / cellDeg).cast("long").as("cell_x"),
        floor((col("y") - miny) / cellDeg).cast("long").as("cell_y"))
      .agg(count(lit(1)).as("n_points"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("sum_val"))

  /** Zonal statistics: per grid cell, how many polygons overlap it and how
    * much clipped AREA they contribute — the polygon-side sibling of
    * [[gridHeatmap]] (raster zonal stats / areal interpolation's first
    * stage). Each polygon fans out to the cells its bbox covers (a
    * generator inside the scan projection — no shuffle, no index), the
    * exact JTS clip runs per (polygon, cell) in a compiled loop, and ONE
    * map-side-combined aggregate on the cell key collects the zone. Cells
    * a bbox covers but the geometry doesn't touch contribute zero area and
    * are dropped. At 100 TB the fan-out is bounded by
    * area(bbox)/cellDeg² per polygon — pick cellDeg so a typical polygon
    * touches O(1..100) cells, exactly like the grid-join cell sizing.
    */
  def zonalStats(polys: DataFrame, cellDeg: Double,
      minx: Double = -180.0, miny: Double = -90.0): DataFrame = {
    val clip = udf { (wkb: Array[Byte], cx: Long, cy: Long) =>
      val g = GeomCodec.fromWkb(wkb)
      val cell = GeomCodec.factory.toGeometry(new org.locationtech.jts.geom.Envelope(
        minx + cx * cellDeg, minx + (cx + 1) * cellDeg,
        miny + cy * cellDeg, miny + (cy + 1) * cellDeg))
      g.intersection(cell).getArea
    }
    polys
      .withColumn("cell_x", explode(sequence(
        floor((col("bbox")("minx") - minx) / cellDeg).cast("long"),
        floor((col("bbox")("maxx") - minx) / cellDeg).cast("long"))))
      .withColumn("cell_y", explode(sequence(
        floor((col("bbox")("miny") - miny) / cellDeg).cast("long"),
        floor((col("bbox")("maxy") - miny) / cellDeg).cast("long"))))
      .withColumn("area", clip(col("geometry"), col("cell_x"), col("cell_y")))
      .filter(col("area") > 0.0)
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("n_polys"), sum(col("area")).as("area"))
  }
}
