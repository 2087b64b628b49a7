package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GeoFrame, SpatialAggs, SpatialJoin}
import graft.functions.{HexBin, st}
import graft.geom.GeomCodec
import graft.queries.Shared._

/** Spatial queries (`sp_*`) over the customer point layer, the per-nation
  * line layer and the catalog fixtures: the neo4j-contrib/spatial procedure
  * surface, spatial joins, aggregates and curve-clustered layouts.
  */
object SpQueries {

  /** Per-nation supplier envelope polygons joined against customer points
    * (intersects ⇒ envelope boundary inclusive, matching SQL BETWEEN).
    */
  private def spatialJoinQuery(s: SparkSession, dir: String, useGrid: Boolean): DataFrame = {
    import graft.engine.{SpatialAggs, SpatialJoin}
    val supPolys = T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"),
        ((col("s_suppkey") % 360) - 180 + 0.5).cast("double").as("x"),
        (((col("s_suppkey") * 7) % 180) - 90 + 0.5).cast("double").as("y"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .groupBy(col("s_nationkey"))
      .agg(SpatialAggs.unionAgg(col("geometry")).as("g"))
      .select(col("s_nationkey").as("id"), st.envelope(col("g")).as("geometry"))
      .withColumn("bbox", st.bboxOf(col("geometry")))
    val pts = pointsDf(s, dir).select(col("ck").as("id"), col("geometry"), col("bbox"))
    val joined =
      if (useGrid) SpatialJoin.gridJoin(pts, supPolys, cellSize = 30.0, "intersects")
      else SpatialJoin.broadcastJoin(pts, supPolys, "intersects")
    joined.groupBy(col("r_id").cast("int").as("s_nationkey"))
      .agg(count(lit(1)).as("n_pts"))
      .orderBy(col("s_nationkey"))
  }

  // curve-clustered copy of the point layer, written once per JVM per
  // (SF dir, layout) — the stored-__sfc read path (windowViaCurve) must be
  // exercised against the SAME durable layout a real layer write produces
  private val curveLayerCache = scala.collection.concurrent.TrieMap.empty[(String, String), String]

  private def curveLayerPath(s: SparkSession, dir: String, indexType: String): String =
    curveLayerCache.getOrElseUpdate((dir, indexType), {
      val d = java.nio.file.Files.createTempDirectory("graft-curve-layer")
      d.toFile.deleteOnExit()
      val p = d.resolve("pts").toString
      graft.plans.SpatialLayout.writeClustered(pointsDf(s, dir), p, indexType)
      p
    })

  /** Window query through the stored curve key of the given layout; the
    * range/prefix predicates only PRUNE the scan — the exact window filter
    * decides membership, so results equal the plain window filter for every
    * layout (the property each sp_window_* oracle asserts).
    */
  private def curveWindowQuery(s: SparkSession, dir: String, indexType: String,
      minx: Double, miny: Double, maxx: Double, maxy: Double): DataFrame =
    new GeoFrame(s.read.parquet(curveLayerPath(s, dir, indexType)),
        Some(graft.engine.LayerMeta("curve_pts", GeomCodec.GTYPE_POINT,
          encoder = "point-xy", indexType = indexType)))
      .windowViaCurve(minx, miny, maxx, maxy)
      .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id"))

  // per-JVM per-SF-dir procedures facade over a temp warehouse: the catalog
  // surface (create/append/remove/list + count/bbox metadata) under the
  // oracle; layers are created exactly once, stats are re-derived per call
  private val catalogCache = scala.collection.concurrent.TrieMap.empty[String, graft.engine.SpatialProcedures]

  private def catalogProcs(s: SparkSession, dir: String): graft.engine.SpatialProcedures =
    catalogCache.getOrElseUpdate(dir, {
      val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
      wh.toFile.deleteOnExit()
      val procs = new graft.engine.SpatialProcedures(s, wh.toString)
      val src = pointsDf(s, dir).select(col("ck"), col("x"), col("y"))
      // addPointLayerXY (bbox layout) + preset path (hilbert layout)
      procs.addPointLayerXY("cust_pts", src, "ck", "x", "y")
      // the preset path on a ck%5 subset: cheaper clustered write AND a
      // distinct stats row (not a duplicate of cust_pts)
      procs.addLayer("cust_hilbert", "Hilbert", src.filter(col("ck") % 5 === 0), "ck", "x:y")
      procs.addWKTLayer("nation_boxes", natBoxesDf(s, dir), "n_nationkey", "wkt")
      // mutation path: three literal boxes extend the layer bbox on all sides
      procs.addWKTs("nation_boxes", AppendedBoxes)
      // removeLayer: a scratch layer must vanish from the listing (the
      // 3-row oracle result implicitly asserts it)
      procs.addWKTLayer("scratch", natBoxesDf(s, dir), "n_nationkey", "wkt")
      procs.removeLayer("scratch")
      procs
    })

  /** Per-nation lattice boxes as WKT (exact integer+0.5 corners):
    * [3k−39.5, 3k−34.5] × [2k−29.5, 2k−25.5].
    */
  private def natBoxesDf(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "nation").select(col("n_nationkey"),
      concat(lit("POLYGON (("),
        col("n_nationkey") * 3 - lit(39.5), lit(" "), col("n_nationkey") * 2 - lit(29.5), lit(", "),
        col("n_nationkey") * 3 - lit(34.5), lit(" "), col("n_nationkey") * 2 - lit(29.5), lit(", "),
        col("n_nationkey") * 3 - lit(34.5), lit(" "), col("n_nationkey") * 2 - lit(25.5), lit(", "),
        col("n_nationkey") * 3 - lit(39.5), lit(" "), col("n_nationkey") * 2 - lit(25.5), lit(", "),
        col("n_nationkey") * 3 - lit(39.5), lit(" "), col("n_nationkey") * 2 - lit(29.5),
        lit("))")).as("wkt"))

  private val AppendedBoxes = Seq(
    "POLYGON ((200 40, 202 40, 202 42, 200 42, 200 40))",
    "POLYGON ((-220 -85, -218 -85, -218 -83, -220 -83, -220 -85))",
    "POLYGON ((10 88, 12 88, 12 89.5, 10 89.5, 10 88))")

  // separate warehouse for the edit-sequence fixture so the catalog-stats
  // listing stays at exactly 3 layers; the sequence (append → updateWKT →
  // removeNodes) runs once per JVM, the query reads the final state
  private val editsCache = scala.collection.concurrent.TrieMap.empty[String, graft.engine.SpatialProcedures]

  private def editsProcs(s: SparkSession, dir: String): graft.engine.SpatialProcedures =
    editsCache.getOrElseUpdate(dir, {
      val wh = java.nio.file.Files.createTempDirectory("graft-edits-wh")
      wh.toFile.deleteOnExit()
      val procs = new graft.engine.SpatialProcedures(s, wh.toString)
      procs.addWKTLayer("edits", natBoxesDf(s, dir), "n_nationkey", "wkt")
      // ids continue from the existing count: the three boxes get 25,26,27
      procs.addWKTs("edits", AppendedBoxes)
      // copy-on-write geometry replacement by id
      procs.updateWKT("edits", "3", "POLYGON ((50 50, 54 50, 54 53, 50 53, 50 50))")
      // anti-join delete: one original row, one appended row
      procs.removeNodes("edits", Seq("7", "26"))
      procs
    })


  /** Query rectangle shared by sp_intersects_poly / sp_relate_within /
    * sp_set_ops — off-lattice bounds so no point ever sits on the boundary.
    */
  private val RectWkt =
    "POLYGON ((0.2 -10.2, 30.2 -10.2, 30.2 40.2, 0.2 40.2, 0.2 -10.2))"

  /** Lattice-ALIGNED rectangle for sp_predicate_lattice: its boundary passes
    * through point coordinates, so touch/corner cases actually occur.
    */
  private val LatticeRectWkt =
    "POLYGON ((0.5 -10.5, 30.5 -10.5, 30.5 40.5, 0.5 40.5, 0.5 -10.5))"

  /** Exact area of ONE JTS r=0.45 disc buffer (32-gon, quadrantSegments=8),
    * embedded as a literal in the sp_buffer_union_area oracle.
    */
  private lazy val DiscArea: Double =
    GeomCodec.point(0.0, 0.0).buffer(0.45).getArea

  /** Oracle for both spatial-join strategies: envelope containment is plain
    * min/max BETWEEN arithmetic on the lattice coordinates.
    */
  private val SupJoinSql =
    """
      |, sup AS (
      |  SELECT s_nationkey, min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
      |  FROM (SELECT s_nationkey,
      |               CAST((s_suppkey % 360) - 180 + 0.5 AS DOUBLE) AS x,
      |               CAST(((s_suppkey * 7) % 180) - 90 + 0.5 AS DOUBLE) AS y
      |        FROM supplier)
      |  GROUP BY 1
      |)
      |SELECT s.s_nationkey, count(*) AS n_pts
      |FROM sup s JOIN pts p
      |  ON p.x >= s.minx AND p.x <= s.maxx AND p.y >= s.miny AND p.y <= s.maxy
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** spatial.closest oracle: nearest point on each nation polyline via the
    * exact JTS projection algebra (LineSegment.projectionFactor + pointAlong;
    * reference: SpatialTopologyUtils.java:95-140) written as plain SQL —
    * identical IEEE double ops, so round(6) is bit-stable.
    */
  private val ClosestEdgeSql: String = {
    val (px, py) = ("10.5", "20.5")
    val r = s"((($px - x1) * dx + ($py - y1) * dy) / (dx * dx + dy * dy))"
    val seg =
      s"""CASE
         |  WHEN dx * dx + dy * dy = 0 THEN sqrt(($px - x1) * ($px - x1) + ($py - y1) * ($py - y1))
         |  WHEN $r <= 0 THEN sqrt(($px - x1) * ($px - x1) + ($py - y1) * ($py - y1))
         |  WHEN $r >= 1 THEN sqrt(($px - x2) * ($px - x2) + ($py - y2) * ($py - y2))
         |  ELSE sqrt(($px - (x1 + $r * dx)) * ($px - (x1 + $r * dx))
         |          + ($py - (y1 + $r * dy)) * ($py - (y1 + $r * dy)))
         |END""".stripMargin
    PtsCte +
      s"""
         |, segs AS (
         |  SELECT c_nationkey,
         |         lag(x) OVER w AS x1, lag(y) OVER w AS y1,
         |         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy,
         |         x AS x2, y AS y2
         |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
         |), d AS (
         |  SELECT c_nationkey, min($seg) AS sd
         |  FROM segs WHERE x1 IS NOT NULL GROUP BY 1
         |)
         |SELECT c_nationkey, round(sd, 6) AS snap_dist FROM d
         |WHERE sd <= 50.0
         |ORDER BY snap_dist, c_nationkey""".stripMargin
  }

  /** sp_density_islands oracle: single-link connected components over the
    * nation-0 point graph (edges = pairs within density 25) via a recursive
    * transitive-closure CTE; island key = lexicographic min member id, the
    * same canonicalization as densityIslandsScalable.
    */
  private val DensityIslandsSql: String =
    PtsCte.replace("WITH pts", "WITH RECURSIVE pts") +
      """
        |, p0 AS (SELECT CAST(ck AS VARCHAR) AS id, x, y FROM pts WHERE c_nationkey = 0),
        |e AS (
        |  SELECT a.id AS src, b.id AS dst FROM p0 a JOIN p0 b
        |  ON a.id <> b.id
        |  AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 25.0
        |), reach(id, label) AS (
        |  SELECT id, id FROM p0
        |  UNION
        |  SELECT e.src, r.label FROM e JOIN reach r ON e.dst = r.id
        |), comp AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
        |SELECT label AS island_key, count(*) AS n_members
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin

  /** Window-query oracle: the points in [0.5, 30.5] × [−10.5, 40.5],
    * boundary inclusive.
    */
  private val WindowOracle = PtsCte +
    """
      |SELECT ck AS id, x, y FROM pts
      |WHERE x >= 0.5 AND x <= 30.5 AND y >= -10.5 AND y <= 40.5
      |ORDER BY id""".stripMargin

  /** Distance-query oracle: the points within 1500 km (orthodromic, R =
    * 6371) of (10.5, 20.5), with `dist_km` rounded to metres.
    */
  private val BallOracle = PtsCte +
    """
      |SELECT ck AS id,
      |       round(acos(least(sin(radians(20.5)) * sin(radians(y))
      |             + cos(radians(20.5)) * cos(radians(y))
      |             * cos(radians(x) - radians(10.5)), 1.0)) * 6371, 3) AS dist_km
      |FROM pts
      |WHERE acos(least(sin(radians(20.5)) * sin(radians(y))
      |      + cos(radians(20.5)) * cos(radians(y))
      |      * cos(radians(x) - radians(10.5)), 1.0)) * 6371 <= 1500.0
      |ORDER BY dist_km, id""".stripMargin

  /** Each nation's points folded into one geometry `g`. */
  private def nationUnions(s: SparkSession, dir: String): DataFrame =
    pointsLayer(s, dir).df
      .groupBy(col("c_nationkey"))
      .agg(SpatialAggs.unionAgg(col("geometry")).as("g"))

  /** Per-nation row count and balance in exact integer cents. */
  private def nationCents(df: DataFrame): DataFrame =
    df.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
      .orderBy(col("c_nationkey"))

  /** Oracle CTE `segs`: each nation polyline's segments (x1, y1) → (x2,
    * y2) in custkey order, the first point's row with a null start.
    */
  private val PolylineSegsCtes = PtsCte +
    """
      |, segs AS (
      |  SELECT c_nationkey,
      |         lag(x) OVER w AS x1, lag(y) OVER w AS y1, x AS x2, y AS y2
      |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
      |)""".stripMargin

  /** Each nation polyline's segments (x, y) → (x2, y2) in custkey order
    * with their planar length `seglen`, the running length through the
    * segment `cum` (one sequential pass), the length before it `cumb` (lag
    * of `cum`, never cum − seglen, which would round differently) and the
    * polyline's `total`.
    */
  private def nationSegments(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("nk").orderBy("ck")
    pointsDf(s, dir)
      .select(col("c_nationkey").as("nk"), col("ck"), col("x"), col("y"))
      .withColumn("x2", lead("x", 1).over(w))
      .withColumn("y2", lead("y", 1).over(w))
      .filter(col("x2").isNotNull)
      .withColumn("seglen",
        sqrt((col("x2") - col("x")) * (col("x2") - col("x"))
          + (col("y2") - col("y")) * (col("y2") - col("y"))))
      .withColumn("cum", sum("seglen").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("cumb", lag("cum", 1, 0.0).over(w))
      .withColumn("total", max("cum").over(
        org.apache.spark.sql.expressions.Window.partitionBy("nk")))
  }

  /** Oracle CTEs `seg0` … `cum2` of [[nationSegments]] (same window
    * shapes, so the running doubles agree).
    */
  private val NationSegmentsCtes = PtsCte +
    """
      |, seg0 AS (
      |  SELECT c_nationkey AS nk, ck, x, y,
      |         lead(x) OVER w AS x2, lead(y) OVER w AS y2
      |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
      |), seg1 AS (
      |  SELECT nk, ck, x, y, x2, y2,
      |         sqrt((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS seglen
      |  FROM seg0 WHERE x2 IS NOT NULL
      |), cum1 AS (
      |  SELECT nk, ck, x, y, x2, y2, seglen,
      |         sum(seglen) OVER (PARTITION BY nk ORDER BY ck
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM seg1
      |), cum2 AS (
      |  SELECT *, coalesce(lag(cum) OVER (PARTITION BY nk ORDER BY ck), 0.0) AS cumb,
      |         max(cum) OVER (PARTITION BY nk) AS total
      |  FROM cum1
      |)""".stripMargin

  /** The point at each fraction `frac` (rows of `fr`) of each polyline of
    * `seg` ([[nationSegments]]): the segment with cumb ≤ frac·total < cum,
    * then one lerp, rounded to 6 places.
    */
  private def cutPoints(seg: DataFrame, fr: DataFrame): DataFrame =
    seg.join(fr)
      .filter(col("cumb") <= col("frac") * col("total")
        && col("frac") * col("total") < col("cum"))
      .select(col("nk"), col("frac"),
        round(col("x") + (col("x2") - col("x"))
          * ((col("frac") * col("total") - col("cumb")) / col("seglen")), 6).as("px"),
        round(col("y") + (col("y2") - col("y"))
          * ((col("frac") * col("total") - col("cumb")) / col("seglen")), 6).as("py"))

  /** Point counts `n` of the occupied cells (cx, cy) of the 10° grid. */
  private def gridCells(s: SparkSession, dir: String): DataFrame =
    pointsDf(s, dir).groupBy(
        floor((col("x") + 180.0) / 10.0).cast("long").as("cx"),
        floor((col("y") + 90.0) / 10.0).cast("long").as("cy"))
      .agg(count(lit(1)).as("n"))

  /** Oracle CTE `cells` of [[gridCells]]. */
  private val GridCellsCtes = PtsCte +
    """
      |, cells AS (
      |  SELECT CAST(floor((x + 180.0) / 10.0) AS BIGINT) AS cx,
      |         CAST(floor((y + 90.0) / 10.0) AS BIGINT) AS cy,
      |         count(*) AS n
      |  FROM pts GROUP BY 1, 2
      |)""".stripMargin

  /** The MVT queries' vertices: each nation's customers on a quarter-degree
    * lattice around a nation center (within ±52°, so no mercator clip),
    * quantized to slippy-map pixels `gx`, `gy` at `scale` pixels per axis.
    */
  private def mvtPixels(s: SparkSession, dir: String, scale: Int): DataFrame = {
    val radius = graft.geom.Mercator.RadiusM
    T(s, dir, "customer").select(
        col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
      .withColumn("x", (col("nk") % 8).cast("double") * 45.0 - 180.0 + 22.5
        + ((col("ck") % 16).cast("double") - 7.5) * 0.25)
      .withColumn("y", ((col("nk") * 7) % 6).cast("double") * 20.0 - 60.0 + 10.0
        + (((col("ck") * 3) % 12).cast("double") - 5.5) * 0.25)
      .withColumn("gx", floor((col("x") + 180.0) / 360.0 * scale))
      .withColumn("yn", st.mercatorY(col("y")) / lit(radius) / lit(math.Pi))
      .withColumn("gy", floor((lit(1.0) - col("yn")) / 2.0 * scale))
  }

  /** Oracle CTE `v`: the lattice vertices of [[mvtPixels]] before
    * quantization.
    */
  private val MvtVertsCte =
    """WITH v AS (
      |  SELECT c_custkey AS ck, c_nationkey AS nk,
      |         CAST(c_nationkey % 8 AS DOUBLE) * 45 - 180 + 22.5
      |           + (CAST(c_custkey % 16 AS DOUBLE) - 7.5) * 0.25 AS x,
      |         CAST((c_nationkey * 7) % 6 AS DOUBLE) * 20 - 60 + 10
      |           + (CAST((c_custkey * 3) % 12 AS DOUBLE) - 5.5) * 0.25 AS y
      |  FROM customer
      |)""".stripMargin

  /** [[natBoxesDf]] with each box parsed into `geometry`. */
  private def natBoxGeoms(s: SparkSession, dir: String): DataFrame =
    natBoxesDf(s, dir)
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .select(col("n_nationkey"), col("geometry"))

  /** Registers the declarative-join inputs: the point layer as `sqlj_pts`
    * (ck, geometry) and [[natBoxGeoms]] as `sqlj_boxes`.
    */
  private def sqlJoinViews(s: SparkSession, dir: String): Unit = {
    pointsDf(s, dir).select(col("ck"), col("geometry"))
      .createOrReplaceTempView("sqlj_pts")
    natBoxGeoms(s, dir).createOrReplaceTempView("sqlj_boxes")
  }

  /** Oracle rows of [[natBoxesDf]]: each nation box as interval bounds. */
  private val NationBoxRows =
    """  SELECT n_nationkey,
      |         n_nationkey * 3 - 39.5 AS x0, n_nationkey * 3 - 34.5 AS x1,
      |         n_nationkey * 2 - 29.5 AS y0, n_nationkey * 2 - 25.5 AS y1
      |  FROM nation""".stripMargin

  /** Oracle CTE `nb` of [[natBoxGeoms]] beside `pts`. */
  private val NationBoxesCtes = PtsCte + "\n, nb AS (\n" + NationBoxRows + "\n)"

  private[graft] val all: Seq[QuerySpec] = Seq(
    // spatial.bbox quirk: WITHIN semantics (SpatialProcedures.java:822-836)
    QuerySpec("sp_bbox_within", (s, dir) =>
      pointsLayer(s, dir).bboxSearch(0.25, -10.25, 30.25, 40.25)
        .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id")),
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE x > 0.25 AND x < 30.25 AND y > -10.25 AND y < 40.25
          |ORDER BY id""".stripMargin)),

    // window INTERSECTS semantics incl. boundary lattice points
    QuerySpec("sp_bbox_intersects", (s, dir) =>
      pointsLayer(s, dir).intersectsWindow(0.5, -10.5, 30.5, 40.5)
        .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id")),
      WindowOracle),

    // the space-filling-curve READ paths under the oracle: window → __sfc
    // range/prefix predicates over a curve-clustered stored layer (the
    // driver's analog of the reference's curve-index range scan,
    // LayerSpaceFillingCurvePointIndex.java:110-124 and geohash prefix
    // search, LayerGeohashPointIndex.java:86-107); results must equal the
    // plain window filter the oracle replays — one query per layout
    QuerySpec("sp_window_curve", (s, dir) =>
      curveWindowQuery(s, dir, "hilbert", 0.5, -10.5, 30.5, 40.5),
      // identical window semantics: the curve ranges/prefixes only PRUNE the
      // scan, the exact window filter decides membership — per layout
      WindowOracle),

    // incremental bucketed layer: write the even-custkey half, PARTIAL-upsert
    // a 5% slice (only the touched curve-bucket directories are rewritten —
    // the distributed analog of the reference's incremental R-tree insert
    // policy, RTreeIndex.java:242-268), then window-read through the
    // curve-range + bucket-partition pruned path; results must equal the
    // plain filter over the union (the oracle)
    QuerySpec("sp_layer_upsert", (s, dir) => {
      val d = java.nio.file.Files.createTempDirectory("graft-upsert-layer")
      d.toFile.deleteOnExit()
      val p = d.resolve("pts").toString
      val pts = pointsDf(s, dir)
      graft.plans.SpatialLayout.writeClusteredBuckets(
        pts.filter(col("ck") % 2 === 0), p)
      val mode = graft.plans.SpatialLayout.upsertClusteredBuckets(
        pts.filter(col("ck") % 20 === 1), p)
      require(mode == "partial", s"expected a partial upsert, got $mode")
      // open through the layout sidecar: indexType + bucketShift come from
      // what the writer recorded, never a caller guess
      GeoFrame.openClustered(s, p, "upsert_pts", GeomCodec.GTYPE_POINT)
        .windowViaCurve(0.5, -10.5, 30.5, 40.5)
        .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id"))
    },
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE (ck % 2 = 0 OR ck % 20 = 1)
          |  AND x >= 0.5 AND x <= 30.5 AND y >= -10.5 AND y <= 40.5
          |ORDER BY id""".stripMargin)),

    QuerySpec("sp_window_zorder", (s, dir) =>
      curveWindowQuery(s, dir, "zorder", -60.5, -30.5, -10.5, 20.5),
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE x >= -60.5 AND x <= -10.5 AND y >= -30.5 AND y <= 20.5
          |ORDER BY id""".stripMargin)),

    QuerySpec("sp_window_geohash", (s, dir) =>
      curveWindowQuery(s, dir, "geohash", 100.5, 10.5, 150.5, 60.5),
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE x >= 100.5 AND x <= 150.5 AND y >= 10.5 AND y <= 60.5
          |ORDER BY id""".stripMargin)),

    // catalog/procedure surface under the oracle: per-layer feature count +
    // bounding box after create (XY + preset + WKT), addWKTs append, and a
    // removeLayer (the 3-row listing asserts the dropped layer is gone) —
    // reference: SpatialProcedures.java:303,509,537,767,589,598,625
    QuerySpec("sp_catalog_stats", (s, dir) => {
      val procs = catalogProcs(s, dir)
      val parts = procs.catalog.listLayers().map { name =>
        // count + extent in ONE aggregate per layer (getFeatureCount +
        // getLayerBoundingBox would run two jobs over the same scan)
        procs.layer(name).df.agg(
            count(lit(1)).as("n"),
            min(col("bbox")("minx")).as("minx"), min(col("bbox")("miny")).as("miny"),
            max(col("bbox")("maxx")).as("maxx"), max(col("bbox")("maxy")).as("maxy"))
          .withColumn("layer", lit(name))
      }
      parts.reduce(_ unionByName _)
        .select(col("layer"), col("n"), col("minx"), col("miny"), col("maxx"), col("maxy"))
        .orderBy(col("layer"))
    },
      // layer listing replay: cust_pts/cust_hilbert mirror the point lattice;
      // nation_boxes = 25 lattice boxes + the 3 appended literal boxes (the
      // dropped `scratch` layer must NOT appear — exactly 3 rows)
      (PtsCte +
        """, nba AS (
          |  SELECT CAST(n_nationkey*3 - 39.5 AS DOUBLE) AS x0,
          |         CAST(n_nationkey*2 - 29.5 AS DOUBLE) AS y0,
          |         CAST(n_nationkey*3 - 34.5 AS DOUBLE) AS x1,
          |         CAST(n_nationkey*2 - 25.5 AS DOUBLE) AS y1
          |  FROM nation
          |  UNION ALL SELECT 200, 40, 202, 42
          |  UNION ALL SELECT -220, -85, -218, -83
          |  UNION ALL SELECT 10, 88, 12, 89.5
          |)
          |SELECT * FROM (
          |  SELECT 'cust_hilbert' AS layer, count(*) AS n,
          |         min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
          |  FROM pts WHERE ck % 5 = 0
          |  UNION ALL
          |  SELECT 'cust_pts', count(*), min(x), min(y), max(x), max(y) FROM pts
          |  UNION ALL
          |  SELECT 'nation_boxes', count(*), min(x0), min(y0), max(x1), max(y1) FROM nba
          |)
          |ORDER BY layer""".stripMargin)),

    // coordinate POLYMORPHISM under the oracle (was unit-only): the same
    // customer points added through all three reference shapes — lon/lat
    // pair, WKT literal, geometry column (SpatialApiBase.java:63-140) —
    // must produce byte-equivalent layers: identical counts, exact
    // coordinate sums, identical extents
    QuerySpec("sp_add_polymorph", (s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-wh-poly")
      wh.toFile.deleteOnExit()
      val procs = new graft.engine.SpatialProcedures(s, wh.toString)
      val src = pointsDf(s, dir).select(col("ck"), col("x"), col("y"))
      procs.addPointLayerXY("pm_xy", src, "ck", "x", "y")
      procs.addWKTLayer("pm_wkt", src.withColumn("wkt",
        concat(lit("POINT ("), col("x"), lit(" "), col("y"), lit(")"))),
        "ck", "wkt")
      procs.addPointLayerGeom("pm_geom",
        src.withColumn("g", st.makePoint(col("x"), col("y"))), "ck", "g")
      Seq("pm_geom", "pm_wkt", "pm_xy").map { name =>
        procs.layer(name).df.agg(
            count(lit(1)).as("n"),
            sum(round(st.x(col("geometry")) * 2).cast("long")).as("sx2"),
            sum(round(st.y(col("geometry")) * 2).cast("long")).as("sy2"),
            min(col("bbox")("minx")).as("minx"), min(col("bbox")("miny")).as("miny"),
            max(col("bbox")("maxx")).as("maxx"), max(col("bbox")("maxy")).as("maxy"))
          .withColumn("layer", lit(name))
      }.reduce(_ unionByName _)
        .select(col("layer"), col("n"), col("sx2"), col("sy2"),
          col("minx"), col("miny"), col("maxx"), col("maxy"))
        .orderBy(col("layer"))
    },
      // all three polymorphic add paths must agree with the one source table
      (PtsCte +
        """
          |, a AS (
          |  SELECT count(*)::BIGINT AS n,
          |         CAST(sum(CAST(round(x * 2) AS BIGINT)) AS BIGINT) AS sx2,
          |         CAST(sum(CAST(round(y * 2) AS BIGINT)) AS BIGINT) AS sy2,
          |         min(x) AS minx, min(y) AS miny,
          |         max(x) AS maxx, max(y) AS maxy
          |  FROM pts
          |)
          |SELECT l.layer, a.n, a.sx2, a.sy2, a.minx, a.miny, a.maxx, a.maxy
          |FROM (SELECT unnest(['pm_geom', 'pm_wkt', 'pm_xy']) AS layer) l
          |CROSS JOIN a ORDER BY layer""".stripMargin)),

    // setFeatureAttributes / getFeatureAttributes under the oracle (was
    // unit-only): discovery lists the non-core columns; the whitelist
    // persists through the catalog meta (reference: SpatialProcedures
    // setFeatureAttributes :568, getFeatureAttributes :578)
    QuerySpec("sp_feature_attrs", (s, dir) => {
      import s.implicits._
      val wh = java.nio.file.Files.createTempDirectory("graft-wh-attrs")
      wh.toFile.deleteOnExit()
      val procs = new graft.engine.SpatialProcedures(s, wh.toString)
      procs.addPointLayerXY("attrs_demo",
        pointsDf(s, dir).select(col("ck"), col("x"), col("y"),
          col("c_acctbal"), col("c_nationkey")),
        "ck", "x", "y")
      val discovered = procs.getFeatureAttributes("attrs_demo").sorted.mkString(",")
      val restricted = procs.setFeatureAttributes("attrs_demo",
        Seq("c_acctbal")).sorted.mkString(",")
      // re-open THROUGH the catalog: the whitelist must have persisted
      val persisted = procs.catalog.getLayer("attrs_demo")
        .meta.map(_.attributes.sorted.mkString(",")).getOrElse("")
      Seq(("discovered", discovered), ("persisted", persisted),
        ("restricted", restricted)).toDF("phase", "attrs").orderBy("phase")
    },
      """SELECT 'discovered' AS phase, 'c_acctbal,c_nationkey' AS attrs
        |UNION ALL SELECT 'persisted', 'c_acctbal'
        |UNION ALL SELECT 'restricted', 'c_acctbal'
        |ORDER BY phase""".stripMargin),

    // SearchEqualEnvelopes under the oracle: rows whose envelope EQUALS the
    // query point's degenerate envelope — exact double equality on the bbox
    // struct, no JTS (reference: rtree/filter/SearchEqualEnvelopes.java:28-38).
    // Lattice coords collide iff ck ≡ 42 (mod 360), so the result is the
    // deterministic stride {42, 402, 762, ...}
    QuerySpec("sp_equal_env", (s, dir) => {
      val qx = (42 % 360) - 180 + 0.5
      val qy = ((42 * 7) % 180) - 90 + 0.5
      pointsLayer(s, dir)
        .equalEnvelopes(GeomCodec.factory.createPoint(
          new org.locationtech.jts.geom.Coordinate(qx, qy)))
        .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id"))
    },
      // exact coordinate equality on the lattice stride ck ≡ 42 (mod 360)
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE x = CAST((42 % 360) - 180 + 0.5 AS DOUBLE)
          |  AND y = CAST(((42 * 7) % 180) - 90 + 0.5 AS DOUBLE)
          |ORDER BY id""".stripMargin)),

    // z coordinates through the WKB codec under the oracle: st_pointz packs
    // (x, y, z), st_z unpacks the identical double (reference carries z via
    // the point encoder's zMask, Neo4jPointEncoder)
    QuerySpec("sp_pointz", (s, dir) => {
      pointsDf(s, dir)
        .selectExpr("ck AS id", "st_z(st_pointz(x, y, c_acctbal)) AS z",
          "st_x(st_pointz(x, y, c_acctbal)) AS px")
        .orderBy(col("id"))
    },
      // the z round trip is the identity on the acctbal double; x survives too
      (PtsCte +
        """
          |SELECT ck AS id, c_acctbal AS z, x AS px FROM pts
          |ORDER BY id""".stripMargin)),

    // spatial.layerTypes listing (the preset table IS the contract —
    // reference: SpatialLayerTypePresets.java:39-73)
    QuerySpec("sp_layer_types", (s, dir) =>
      catalogProcs(s, dir).layerTypesDf().orderBy(col("name")),
      """SELECT * FROM (VALUES
        |  ('Geohash','point-xy','geohash'), ('Hilbert','point-xy','hilbert'),
        |  ('NativeGeohash','point-xy','geohash'), ('NativeHilbert','point-xy','hilbert'),
        |  ('NativePoint','point-xy','bbox'), ('NativePoints','point-xy','bbox'),
        |  ('NativeZOrder','point-xy','zorder'), ('SimplePoint','point-xy','bbox'),
        |  ('WKB','wkb','bbox'), ('WKT','wkt','bbox'), ('ZOrder','point-xy','zorder')
        |) AS t(name, encoder, "index")
        |ORDER BY name""".stripMargin),

    // the full edit sequence (addWKTLayer → addWKTs → updateWKT →
    // removeNodes) under the oracle: the final layer state replays the edit
    // history in SQL — reference: SpatialProcedures.java:747 (updateWKT
    // copy-on-write), :690-718 (removeNodes anti-join delete)
    QuerySpec("sp_layer_edits", (s, dir) =>
      editsProcs(s, dir).layer("edits").df
        .select(col("id").cast("int").as("id"),
          col("bbox")("minx").as("minx"), col("bbox")("miny").as("miny"),
          col("bbox")("maxx").as("maxx"), col("bbox")("maxy").as("maxy"))
        .orderBy(col("id")),
      // edit-history replay: lattice boxes minus removed ids, id 3's box
      // replaced by the updateWKT literal, the two surviving appended boxes
      """WITH eb AS (
        |  SELECT n_nationkey AS id,
        |         CAST(n_nationkey*3 - 39.5 AS DOUBLE) AS minx,
        |         CAST(n_nationkey*2 - 29.5 AS DOUBLE) AS miny,
        |         CAST(n_nationkey*3 - 34.5 AS DOUBLE) AS maxx,
        |         CAST(n_nationkey*2 - 25.5 AS DOUBLE) AS maxy
        |  FROM nation
        |), edited AS (
        |  SELECT id,
        |    CASE WHEN id = 3 THEN 50.0 ELSE minx END AS minx,
        |    CASE WHEN id = 3 THEN 50.0 ELSE miny END AS miny,
        |    CASE WHEN id = 3 THEN 54.0 ELSE maxx END AS maxx,
        |    CASE WHEN id = 3 THEN 53.0 ELSE maxy END AS maxy
        |  FROM eb WHERE id <> 7
        |  UNION ALL SELECT 25, 200, 40, 202, 42
        |  UNION ALL SELECT 27, 10, 88, 12, 89.5
        |)
        |SELECT id, minx, miny, maxx, maxy FROM edited ORDER BY id""".stripMargin),

    QuerySpec("sp_within_distance", (s, dir) =>
      pointsLayer(s, dir).withinDistanceKm(10.5, 20.5, 1500.0)
        .df.select(col("ck").as("id"), round(col("distance"), 3).as("dist_km"))
        .orderBy(col("dist_km"), col("id")),
      BallOracle),

    // window-pruned EXACT k-NN (GeoFrame.knnCandidates proves the pruned
    // scan contains the full-scan top-k incl. round-ties) — the oracle stays
    // a full scan; results are provably identical
    QuerySpec("sp_knn", (s, dir) =>
      pointsLayer(s, dir).knnCandidates(-100.5, 30.5, 25, initialSide = 60.0)
        .df.withColumn("dist_km", round(col("distance"), 3))
        .select(col("ck").as("id"), col("dist_km"))
        .orderBy(col("dist_km"), col("id"))
        .limit(25),
      (PtsCte +
        """
          |SELECT ck AS id,
          |       round(acos(least(sin(radians(30.5)) * sin(radians(y))
          |             + cos(radians(30.5)) * cos(radians(y))
          |             * cos(radians(x) - radians(-100.5)), 1.0)) * 6371, 3) AS dist_km
          |FROM pts ORDER BY dist_km, id LIMIT 25""".stripMargin)),

    // distributed EXACT kNN join (grid + ring expansion): every nation-0
    // customer's 5 nearest other customers by planar distance. Lattice
    // spacing 1 makes every d2 integer-valued — exact in any engine; the
    // oracle is the all-pairs formulation (valid because knnJoin is exact).
    // cellSize 8 ≈ sqrt(2k·area/n) at sf0.01 — a 3×3 block holds ≳ 2k pts
    // Clark–Evans nearest-neighbor index per nation (Clark & Evans 1954):
    // R = observed mean NN distance / expected 0.5/√(global density) —
    // R < 1 clustered, ≈ 1 Poisson, > 1 dispersed; completes the
    // point-pattern family beside Ripley's K (global) and Gi* (local).
    // NN distances come from the exact ring-expansion knn join (k=1, no
    // cross join); per-nation means fold in ordered windows so the sqrt
    // sums are bit-reproducible; density is the global-lattice convention
    // (documented — per-nation area would need a boundary model)
    QuerySpec("sp_clark_evans", (s, dir) => {
      val base = pointsDf(s, dir)
      val pts = base.select(col("ck").as("id"), col("x"), col("y"))
      val nn = SpatialJoin.knnJoin(pts, pts, k = 1, cellSize = 8.0,
          excludeSelf = true)
        .select(col("qid"), sqrt(col("d2")).as("dist"))
      val tot = base.agg(count(lit(1)).as("nt"))
      val wo = org.apache.spark.sql.expressions.Window
        .partitionBy("nk").orderBy("qid")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy("nk")
      base.select(col("ck").as("qid"), col("c_nationkey").cast("long").as("nk"))
        .join(nn, "qid").crossJoin(tot)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("nk").orderBy("qid")))
        .withColumn("np", count(lit(1)).over(wAll))
        .withColumn("sd", sum("dist").over(wo))
        .filter(col("rn") === col("np"))
        .withColumn("mean_nn", col("sd") / col("np").cast("double"))
        .select(col("nk"), col("np").cast("long").as("n_pts"),
          round(col("mean_nn"), 6).as("mean_nn"),
          round(col("mean_nn") * 2.0 *
            sqrt(col("nt").cast("double") / 64800.0), 6).as("r_index"))
        .orderBy("nk")
    },
      // all-pairs kNN — a valid oracle for the grid+ring plan because knnJoin
      // is provably exact; lattice arithmetic keeps every d2 an exact double
      (PtsCte + """
        |, nn AS (
        |  SELECT q.ck, q.c_nationkey AS nk,
        |         sqrt(min((q.x-p.x)*(q.x-p.x) + (q.y-p.y)*(q.y-p.y))) AS dist
        |  FROM pts q JOIN pts p ON p.ck <> q.ck
        |  GROUP BY q.ck, q.c_nationkey
        |), t AS (
        |  SELECT count(*) AS nt FROM pts
        |), run AS (
        |  SELECT nk,
        |         row_number() OVER (PARTITION BY nk ORDER BY ck) AS rn,
        |         count(*) OVER (PARTITION BY nk) AS np,
        |         sum(dist) OVER (PARTITION BY nk ORDER BY ck
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sd
        |  FROM nn
        |), f AS (
        |  SELECT r.nk, r.np, r.sd / CAST(r.np AS DOUBLE) AS mean_nn, t.nt
        |  FROM run r CROSS JOIN t WHERE r.rn = r.np
        |)
        |SELECT CAST(nk AS BIGINT) AS nk, CAST(np AS BIGINT) AS n_pts,
        |       round(mean_nn, 6) AS mean_nn,
        |       round(mean_nn * 2.0 * sqrt(CAST(nt AS DOUBLE) / 64800.0), 6)
        |         AS r_index
        |FROM f ORDER BY nk""".stripMargin)),

    QuerySpec("sp_knn_join", (s, dir) => {
      val base = pointsDf(s, dir)
      val pts = base.select(col("ck").as("id"), col("x"), col("y"))
      SpatialJoin.knnJoin(
          base.filter(col("c_nationkey") === 0).select(col("ck").as("id"), col("x"), col("y")),
          pts, k = 5, cellSize = 8.0, excludeSelf = true)
        .orderBy(col("qid"), col("rk"))
    },
      (PtsCte +
        """
          |SELECT qid, pid, d2, rk FROM (
          |  SELECT q.ck AS qid, p.ck AS pid,
          |         (q.x-p.x)*(q.x-p.x) + (q.y-p.y)*(q.y-p.y) AS d2,
          |         row_number() OVER (PARTITION BY q.ck
          |           ORDER BY (q.x-p.x)*(q.x-p.x) + (q.y-p.y)*(q.y-p.y), p.ck) AS rk
          |  FROM (SELECT * FROM pts WHERE c_nationkey = 0) q
          |  CROSS JOIN pts p
          |  WHERE p.ck <> q.ck
          |) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),

    // directed Hausdorff distance between two point sets (nation 0 → 1):
    // max over A of the nearest-B distance, composed on the exact grid kNN
    // join with k=1 — per-point work stays ring-local, so the metric costs
    // one knn join + one max instead of the |A|·|B| cross product the
    // textbook definition (and the oracle) spells out
    QuerySpec("sp_hausdorff", (s, dir) => {
      val base = pointsDf(s, dir)
      val a = base.filter(col("c_nationkey") === 0)
        .select(col("ck").as("id"), col("x"), col("y"))
      val b = base.filter(col("c_nationkey") === 1)
        .select(col("ck").as("id"), col("x"), col("y"))
      SpatialJoin.knnJoin(a, b, k = 1, cellSize = 8.0, excludeSelf = false)
        .agg(count(lit(1)).as("n_a"),
          round(max(sqrt(col("d2"))), 6).as("hausdorff"))
    },
      (PtsCte +
        """
          |, nn AS (
          |  SELECT a.ck, min((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS d2
          |  FROM (SELECT * FROM pts WHERE c_nationkey = 0) a
          |  CROSS JOIN (SELECT * FROM pts WHERE c_nationkey = 1) b
          |  GROUP BY 1
          |)
          |SELECT count(*) AS n_a, round(max(sqrt(d2)), 6) AS hausdorff FROM nn""".stripMargin)),

    // k-NN classification composed on the distributed exact knn join:
    // majority nation label of the 5 nearest neighbors per query point
    // (tie-break: smallest label) — the label join is keyed on neighbor id,
    // the vote a two-level aggregate + WindowGroupLimit top-1; nothing new
    // crosses the wire beyond the knn output itself
    QuerySpec("sp_knn_class", (s, dir) => {
      val base = pointsDf(s, dir)
      val pts = base.select(col("ck").as("id"), col("x"), col("y"))
      val knn = SpatialJoin.knnJoin(
        base.filter(col("c_nationkey") === 0).select(col("ck").as("id"), col("x"), col("y")),
        pts, k = 5, cellSize = 8.0, excludeSelf = true)
      val labels = base.select(col("ck").as("pid"),
        col("c_nationkey").cast("long").as("label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
      knn.join(labels, "pid")
        .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("qid"), col("label").as("pred"), col("votes"))
        .orderBy(col("qid"))
    },
      (PtsCte +
        """
          |, knn AS (
          |  SELECT qid, pid FROM (
          |    SELECT q.ck AS qid, p.ck AS pid,
          |           row_number() OVER (PARTITION BY q.ck
          |             ORDER BY (q.x-p.x)*(q.x-p.x) + (q.y-p.y)*(q.y-p.y), p.ck) AS rk
          |    FROM (SELECT * FROM pts WHERE c_nationkey = 0) q
          |    CROSS JOIN pts p
          |    WHERE p.ck <> q.ck
          |  ) WHERE rk <= 5
          |), votes AS (
          |  SELECT k.qid, CAST(p.c_nationkey AS BIGINT) AS label, count(*) AS votes
          |  FROM knn k JOIN pts p ON p.ck = k.pid
          |  GROUP BY 1, 2
          |)
          |SELECT qid, label AS pred, votes FROM (
          |  SELECT qid, label, votes,
          |         row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS rk
          |  FROM votes
          |) WHERE rk = 1 ORDER BY qid""".stripMargin)),

    // STR bulk-load packing (Leutenegger ICDE'97), the distributed analog of
    // the reference's sorted bulk R-tree build (RTreeIndex.java:533-605):
    // one row per leaf page (capacity 64) with its count + MBR. The oracle
    // replays the same deterministic rank arithmetic with window functions;
    // the Spark plan's global rank is range-sort + zipWithIndex, never a
    // single-partition window (plans/SpatialLayout.strPack).
    QuerySpec("sp_str_pack", (s, dir) =>
      graft.plans.SpatialLayout.strPack(
        pointsDf(s, dir).select(col("ck").cast("string").as("id"), col("x"), col("y")),
        capacity = 64),
      // STR packing replayed with window functions: the global x-rank and the
      // within-slab y-rank are deterministic given the (x, y, ck) total order;
      // rows tied on (x, y) are interchangeable across a page boundary (their
      // coordinates are identical), so page count/MBRs are order-invariant
      (PtsCte +
        """
          |, p AS (
          |  SELECT x, y, ck, row_number() OVER (ORDER BY x, y, ck) - 1 AS rn FROM pts
          |), c AS (
          |  SELECT CAST(ceil(count(*) / 64.0) AS BIGINT) AS pages FROM pts
          |), sl AS (
          |  SELECT CAST(ceil(sqrt(CAST(pages AS DOUBLE))) AS BIGINT) AS slabs FROM c
          |), a AS (
          |  SELECT p.x, p.y, p.ck, p.rn, p.rn // (sl.slabs * 64) AS slab FROM p, sl
          |), b AS (
          |  SELECT a.*, row_number() OVER (PARTITION BY slab ORDER BY y, x, ck) - 1 AS rm
          |  FROM a
          |)
          |SELECT slab, rm // 64 AS tile, count(*) AS cnt,
          |       min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
          |FROM b GROUP BY slab, tile ORDER BY slab, tile""".stripMargin)),

    QuerySpec("sp_layer_bbox", (s, dir) => pointsLayer(s, dir).boundingBox(),
      (PtsCte +
        """
          |SELECT min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy FROM pts""".stripMargin)),

    QuerySpec("sp_centroid_nation", (s, dir) =>
      nationUnions(s, dir)
        .select(col("c_nationkey"),
          st.x(st.centroid(col("g"))).as("cx"),
          st.y(st.centroid(col("g"))).as("cy"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, avg(x) AS cx, avg(y) AS cy
          |FROM (SELECT DISTINCT c_nationkey, x, y FROM pts)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("sp_envelope_area", (s, dir) =>
      nationUnions(s, dir)
        .select(col("c_nationkey"), st.area(st.envelope(col("g"))).as("env_area"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, (max(x) - min(x)) * (max(y) - min(y)) AS env_area
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("sp_union_npoints", (s, dir) =>
      nationUnions(s, dir)
        .select(col("c_nationkey"), st.numGeometries(col("g")).cast("long").as("n_pts"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*) AS n_pts
          |FROM (SELECT DISTINCT c_nationkey, x, y FROM pts)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("sp_line_length", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"), round(st.length(col("geometry")), 6).as("len"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, round(coalesce(sum(seg), 0), 6) AS len FROM (
          |  SELECT c_nationkey,
          |         sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
          |            + (y - lag(y) OVER w) * (y - lag(y) OVER w)) AS seg
          |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
          |) GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("sp_extract_points", (s, dir) =>
      linesLayer(s, dir).extractPoints
        .df.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*) AS n FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Min/Max keep-ties semantics (Min.java:30-72) — per-nation grouped verb
    QuerySpec("sp_max_acctbal_ties", (s, dir) =>
      pointsLayer(s, dir).maxOfGrouped("c_acctbal", "c_nationkey")
        .df.select(col("c_nationkey"), col("ck").as("id"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("id")),
      (PtsCte +
        """
          |SELECT c_nationkey, ck AS id, c_acctbal FROM (
          |  SELECT *, max(c_acctbal) OVER (PARTITION BY c_nationkey) AS m FROM pts
          |) WHERE c_acctbal = m ORDER BY c_nationkey, id""".stripMargin)),

    // customer points vs per-nation supplier envelope polygons — the
    // TestIntersectsPathQueries-style genuine spatial join (SURVEY §2.5),
    // run through BOTH strategies against one oracle
    QuerySpec("sp_join_broadcast", (s, dir) => spatialJoinQuery(s, dir, useGrid = false),
      (PtsCte + SupJoinSql)),

    QuerySpec("sp_join_grid", (s, dir) => spatialJoinQuery(s, dir, useGrid = true),
      (PtsCte + SupJoinSql)),

    // rectangle query geometry ⇒ intersects ⟺ closed-bounds window (oracle!)
    QuerySpec("sp_intersects_poly", (s, dir) =>
      pointsLayer(s, dir)
        .intersects(RectWkt)
        .df.select(col("ck").as("id"), col("x"), col("y")).orderBy(col("id")),
      (PtsCte +
        """
          |SELECT ck AS id, x, y FROM pts
          |WHERE x >= 0.2 AND x <= 30.2 AND y >= -10.2 AND y <= 40.2
          |ORDER BY id""".stripMargin)),

    QuerySpec("sp_closest_edge", (s, dir) =>
      linesLayer(s, dir).closestEdges(10.5, 20.5, 50.0)
        .df.select(col("c_nationkey"), round(col("snap_distance"), 6).as("snap_dist"))
        .orderBy(col("snap_dist"), col("c_nationkey")),
      ClosestEdgeSql),

    // Disc buffers on the lattice are pairwise DISJOINT (spacing 1 > 2r), so
    // union area = n_distinct · one-disc area and n_parts = n_distinct; the
    // oracle embeds JTS's exact 32-gon disc area as a literal. round(4)
    // absorbs the ~1e-13 translation noise of buffering at each center.
    QuerySpec("sp_buffer_union_area", (s, dir) =>
      pointsLayer(s, dir).df
        .filter(col("c_nationkey") === 0)
        .withColumn("geometry", st.buffer(col("geometry"), lit(0.45)))
        .agg(SpatialAggs.unionAgg(col("geometry")).as("g"))
        .select(round(st.area(col("g")), 4).as("area"),
          st.numGeometries(col("g")).cast("long").as("n_parts")),
      (PtsCte +
        s"""
          |SELECT round(count(DISTINCT (x, y)) * $DiscArea, 4) AS area,
          |       count(DISTINCT (x, y))::BIGINT AS n_parts
          |FROM pts WHERE c_nationkey = 0""".stripMargin)),

    QuerySpec("sp_convexhull", (s, dir) =>
      nationUnions(s, dir)
        .select(col("c_nationkey"),
          round(st.area(st.convexHull(col("g"))), 6).as("hull_area"),
          st.numPoints(st.convexHull(col("g"))).cast("long").as("hull_pts"))
        .orderBy(col("c_nationkey")),
      // Convex hull replayed in plain SQL: a directed pair (a,b) of distinct
      // lattice points is a CCW hull edge iff every other point is strictly
      // left of it or collinear ON the segment (robust on the lattice: all
      // cross products are exact quarter-integer doubles). Each hull vertex
      // has exactly one outgoing edge, so vertices = edges and the shoelace
      // sum over edges is twice the hull area. O(n³) per nation — fine at the
      // oracle's sf, irrelevant to the Spark plan.
      (PtsCte +
        """
          |, d AS (SELECT DISTINCT c_nationkey, x, y FROM pts),
          |e AS (
          |  SELECT a.c_nationkey, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
          |  FROM d a JOIN d b
          |    ON a.c_nationkey = b.c_nationkey AND (a.x <> b.x OR a.y <> b.y)
          |  WHERE NOT EXISTS (
          |    SELECT 1 FROM d c
          |    WHERE c.c_nationkey = a.c_nationkey
          |      AND NOT (c.x = a.x AND c.y = a.y) AND NOT (c.x = b.x AND c.y = b.y)
          |      AND NOT (
          |        (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
          |        OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
          |            AND c.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
          |            AND c.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y))
          |      )
          |  )
          |)
          |SELECT c_nationkey,
          |  round(abs(sum(ax * by - bx * ay)) / 2, 6) AS hull_area,
          |  (count(*) + 1)::BIGINT AS hull_pts
          |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // versioned layer store under the oracle: commit v1 (even-keyed
    // points), commit v2 (all points), then aggregate EVERY version through
    // the manifest/time-travel reader — snapshot isolation for rebuilds on
    // any filesystem (the manifest-commit upgrade of the rename swap)
    QuerySpec("sp_layer_versions", (s, dir) => {
      import graft.plans.VersionedLayer
      val d = java.nio.file.Files.createTempDirectory("graft-vlayer")
      d.toFile.deleteOnExit()
      val p = d.resolve("layer").toString
      val pts = pointsDf(s, dir).select(col("ck"), col("x"), col("y"), col("c_acctbal"))
      VersionedLayer.commit(pts.filter(col("ck") % 2 === 0), p)
      VersionedLayer.commit(pts, p)
      VersionedLayer.versions(s, p).map { v =>
        VersionedLayer.read(s, p, Some(v))
          .agg(count(lit(1)).as("n"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
      }.reduce(_ unionByName _).orderBy(col("version"))
    },
      (PtsCte +
        """
          |SELECT 1::BIGINT AS version, count(*) AS n,
          |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
          |FROM pts WHERE ck % 2 = 0
          |UNION ALL
          |SELECT 2::BIGINT, count(*), CAST(sum(round(c_acctbal * 100)) AS BIGINT)
          |FROM pts
          |ORDER BY version""".stripMargin)),

    // forward-geodesic projection (ST_Project): every customer point moved
    // (ck%7+1)·250 km along bearing ck%360 on the R=6371 sphere — the
    // inverse problem of sp_bearing + orthodromic distance, pure codegen
    // trig replayed formula-for-formula
    QuerySpec("sp_project", (s, dir) =>
      pointsDf(s, dir)
        .select(col("ck"),
          st.projectPoint(col("x"), col("y"),
            (col("ck") % 360).cast("double"),
            ((col("ck") % 7 + 1) * 250).cast("double")).as("p"))
        .select(col("ck"), round(col("p.lon"), 6).as("lon2"),
          round(col("p.lat"), 6).as("lat2"))
        .orderBy(col("ck")),
      (PtsCte +
        """
          |, pr AS (
          |  SELECT ck,
          |         CAST((ck % 7 + 1) * 250 AS DOUBLE) / 6371.0 AS dlt,
          |         radians(CAST(ck % 360 AS DOUBLE)) AS th,
          |         radians(y) AS la1, radians(x) AS lo1
          |  FROM pts
          |), d AS (
          |  SELECT ck, dlt, th, la1, lo1,
          |         asin(sin(la1) * cos(dlt) + cos(la1) * sin(dlt) * cos(th)) AS la2
          |  FROM pr
          |)
          |SELECT ck,
          |       round((degrees(lo1 + atan2(sin(th) * sin(dlt) * cos(la1),
          |                                  cos(dlt) - sin(la1) * sin(la2)))
          |              + 540.0) % 360.0 - 180.0, 6) AS lon2,
          |       round(degrees(la2), 6) AS lat2
          |FROM d ORDER BY ck""".stripMargin)),

    // hex polyfill: enumerate the axial cells whose CENTER falls inside
    // each nation envelope (generator + filter, all integer cell ranges
    // from closed-form ceil/floor bounds) — the tile-covering primitive a
    // tessellated spatial join feeds its build side with
    QuerySpec("sp_polyfill", (s, dir) => {
      val size = 5.0
      val rowH = 1.5 * size            // center spacing in y
      val colW = size * math.sqrt(3.0) // center spacing in x
      val env = pointsDf(s, dir).groupBy("c_nationkey")
        .agg(min("x").as("minx"), max("x").as("maxx"),
          min("y").as("miny"), max("y").as("maxy"))
      val rlo = ceil(col("miny") / rowH).cast("long")
      val rhi = floor(col("maxy") / rowH).cast("long")
      val withR = env.select(col("c_nationkey"), col("minx"), col("maxx"),
        explode(when(rhi >= rlo, sequence(rlo, rhi))
          .otherwise(expr("array()").cast("array<long>"))).as("r"))
      val qlo = ceil(col("minx") / colW - col("r") / 2.0).cast("long")
      val qhi = floor(col("maxx") / colW - col("r") / 2.0).cast("long")
      withR.select(col("c_nationkey"), col("r"),
          explode(when(qhi >= qlo, sequence(qlo, qhi))
            .otherwise(expr("array()").cast("array<long>"))).as("q"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cells"), min("q").as("min_q"),
          max("q").as("max_q"), min("r").as("min_r"), max("r").as("max_r"))
        .orderBy("c_nationkey")
    },
      (PtsCte +
        """
          |, env AS (
          |  SELECT c_nationkey, min(x) AS minx, max(x) AS maxx,
          |         min(y) AS miny, max(y) AS maxy
          |  FROM pts GROUP BY 1
          |), rr AS (
          |  SELECT c_nationkey, minx, maxx,
          |         unnest(range(CAST(ceil(miny / 7.5) AS BIGINT),
          |                      CAST(floor(maxy / 7.5) AS BIGINT) + 1)) AS r
          |  FROM env
          |), qq AS (
          |  SELECT c_nationkey, r,
          |         unnest(range(CAST(ceil(minx / (5.0 * sqrt(3.0)) - r / 2.0) AS BIGINT),
          |                      CAST(floor(maxx / (5.0 * sqrt(3.0)) - r / 2.0) AS BIGINT) + 1)) AS q
          |  FROM rr
          |)
          |SELECT c_nationkey, count(*) AS n_cells, min(q) AS min_q, max(q) AS max_q,
          |       min(r) AS min_r, max(r) AS max_r
          |FROM qq GROUP BY 1 ORDER BY 1""".stripMargin)),

    // hexagonal tessellation aggregate: pointy-top axial cells via
    // cube-rounding (functions/HexBin) — all-codegen binning feeding one
    // map-side-combinable integer-key aggregate, the hex sibling of the
    // square density grid
    QuerySpec("sp_hexbin", (s, dir) =>
      pointsDf(s, dir)
        .select(HexBin.cell(col("x"), col("y"), 5.0).as("h"), col("c_acctbal"))
        .groupBy(col("h.q").as("hex_q"), col("h.r").as("hex_r"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("cents"))
        .orderBy(col("hex_q"), col("hex_r")),
      {
        val (hq, hr) = HexBin.cellDuckSql("x", "y", 5.0)
        PtsCte +
          s"""
             |SELECT $hq AS hex_q, $hr AS hex_r, count(*) AS n,
             |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
             |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    QuerySpec("sp_density_islands", (s, dir) => {
      val pts = pointsLayer(s, dir).df.filter(col("c_nationkey") === 0)
      SpatialAggs.densityIslandsScalable(pts, 25.0)
        .select(col("island_key"), col("n_members"))
        .orderBy(col("island_key"))
    },
      DensityIslandsSql),

    // serializer fidelity: write GeoJSON + WKT, parse BACK, count coordinates
    // — parse-back point counts are oracle-checkable (= rows per nation)
    QuerySpec("sp_geojson_roundtrip", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          st.numPoints(st.geomFromGeoJson(st.asGeoJson(col("geometry")))).cast("long").as("gj_pts"),
          st.numPoints(st.geomFromText(st.asText(col("geometry")))).cast("long").as("wkt_pts"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*)::BIGINT AS gj_pts, count(*)::BIGINT AS wkt_pts
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ApplyAffineTransformation (ApplyAffineTransformation.java:30-55):
    // scale+translate on exact lattice coords — exact double arithmetic
    QuerySpec("sp_affine_scale", (s, dir) =>
      pointsLayer(s, dir).df
        .withColumn("t", st.affine(col("geometry"), 2.0, 0.0, 10.0, 0.0, 0.5, -5.0))
        .select(col("ck").as("id"), st.x(col("t")).as("ax"), st.y(col("t")).as("ay"))
        .orderBy(col("id")),
      (PtsCte +
        """
          |SELECT ck AS id, 2.0 * x + 10.0 AS ax, 0.5 * y - 5.0 AS ay
          |FROM pts ORDER BY id""".stripMargin)),

    // FilterInRelation DE-9IM (FilterInRelation.java:30-49): full relate
    // matrix, point strictly inside rectangle ⟺ '0FFFFF212'
    QuerySpec("sp_relate_within", (s, dir) =>
      pointsLayer(s, dir).df
        .withColumn("rel", st.relate(col("geometry"), lit(GeomCodec.toWkb(GeomCodec.fromWkt(RectWkt)))))
        .filter(col("rel") === "0FFFFF212")
        .select(col("ck").as("id"), col("rel"))
        .orderBy(col("id")),
      (PtsCte +
        """
          |SELECT ck AS id, '0FFFFF212' AS rel FROM pts
          |WHERE x > 0.2 AND x < 30.2 AND y > -10.2 AND y < 40.2
          |ORDER BY id""".stripMargin)),

    // GeometryType/Dimension/NumPoints/Boundary pipes (processing/*.java:29)
    QuerySpec("sp_line_meta", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          st.geometryType(col("geometry")).as("gt"),
          st.dimension(col("geometry")).cast("long").as("dim"),
          st.numPoints(col("geometry")).cast("long").as("n_pts"),
          st.numPoints(st.boundary(col("geometry"))).cast("long").as("n_boundary"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey,
          |  CASE WHEN count(*) = 1 THEN 'Point' ELSE 'LineString' END AS gt,
          |  CASE WHEN count(*) = 1 THEN 0 ELSE 1 END::BIGINT AS dim,
          |  count(*)::BIGINT AS n_pts,
          |  CASE WHEN count(*) = 1 THEN 0
          |       WHEN (max(ck) - min(ck)) % 360 = 0 THEN 0
          |       ELSE 2 END::BIGINT AS n_boundary
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // StartPoint/EndPoint pipes (StartPoint.java:30, EndPoint.java:31)
    QuerySpec("sp_start_end", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          st.x(st.startPoint(col("geometry"))).as("sx"),
          st.y(st.startPoint(col("geometry"))).as("sy"),
          st.x(st.endPoint(col("geometry"))).as("ex"),
          st.y(st.endPoint(col("geometry"))).as("ey"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, arg_min(x, ck) AS sx, arg_min(y, ck) AS sy,
          |       arg_max(x, ck) AS ex, arg_max(y, ck) AS ey
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Intersection/Difference/SymDifference + FilterEmpty pipes per row
    QuerySpec("sp_set_ops", (s, dir) => {
      val rect = lit(GeomCodec.toWkb(GeomCodec.fromWkt(RectWkt)))
      pointsLayer(s, dir).df
        .groupBy(col("c_nationkey"))
        .agg(
          count(when(!st.isEmpty(st.intersection(col("geometry"), rect)), 1)).as("n_in"),
          count(when(st.isEmpty(st.difference(col("geometry"), rect)), 1)).as("n_diff_empty"),
          count(when(st.numGeometries(st.symDifference(col("geometry"), rect)) === 2, 1)).as("n_sym2"))
        .orderBy(col("c_nationkey"))
    },
      (PtsCte +
        """
          |SELECT c_nationkey,
          |  count(*) FILTER (WHERE x > 0.2 AND x < 30.2 AND y > -10.2 AND y < 40.2) AS n_in,
          |  count(*) FILTER (WHERE x > 0.2 AND x < 30.2 AND y > -10.2 AND y < 40.2) AS n_diff_empty,
          |  count(*) FILTER (WHERE NOT (x > 0.2 AND x < 30.2 AND y > -10.2 AND y < 40.2)) AS n_sym2
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sort + RangeFilterPipe positional slice (Sort.java:33, RangeFilterPipe.java:32)
    QuerySpec("sp_sort_slice", (s, dir) =>
      new GeoFrame(pointsDf(s, dir).orderBy(col("c_acctbal").desc, col("ck")))
        .range(10, 29)
        .df.select(col("ck").as("id"), col("c_acctbal")),
      (PtsCte +
        """
          |SELECT ck AS id, c_acctbal FROM pts
          |ORDER BY c_acctbal DESC, ck LIMIT 20 OFFSET 10""".stripMargin)),

    // DynamicLayer = named filtered view with pushdown (DynamicLayer.java:56-217)
    QuerySpec("sp_dynamic_cql", (s, dir) =>
      pointsLayer(s, dir).asDynamicLayer("rich_points", "c_acctbal > 5000.0")
        .df.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*) AS n, max(c_acctbal) AS max_bal
          |FROM pts WHERE c_acctbal > 5000.0
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ECQL front-end leg: a stored-ECQL-style string (the reference feeds
    // these verbatim to GeoTools, SearchCQL.java:27-60) parsed by the
    // graft.functions.Ecql translator — BBOX + BETWEEN + geometryType +
    // NOT over the point layer, aggregated under the oracle
    QuerySpec("sp_ecql", (s, dir) =>
      new GeoFrame(pointsDf(s, dir))
        .filterEcql("BBOX(the_geom, -60.5, -40.5, 60.5, 40.5) AND " +
          "c_acctbal BETWEEN 1000.0 AND 8000.0 AND " +
          "geometryType(the_geom) = 'Point' AND NOT c_nationkey = 7")
        .df.transform(nationCents),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*) AS n,
          |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
          |FROM pts
          |WHERE x BETWEEN -60.5 AND 60.5 AND y BETWEEN -40.5 AND 40.5
          |  AND c_acctbal BETWEEN 1000.0 AND 8000.0 AND c_nationkey <> 7
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the procedures listing under the oracle:
    // the static registered surface — the reference's spatial.procedures
    // returns its @Procedure/@UserFunction registry, here with the engine
    // entry point serving each name
    QuerySpec("sp_procedures", (s, dir) => {
      import s.implicits._
      graft.engine.SpatialProcedures.registry
        .toDF("name", "kind", "entry_point").orderBy("name")
    },
      // static registry — both sides render the same registered surface,
      // like the reference's procedure registry dump
      graft.engine.SpatialProcedures.registry.sortBy(_._1)
        .map { case (n, k, e) => s"('$n', '$k', '$e')" }
        .mkString("SELECT * FROM (VALUES ",
          ", ", ") t(name, kind, entry_point) ORDER BY name")),

    // fn spatial.asMap under the oracle: the
    // map-shaped geometry rendering round-trips WKB → JTS → {type,
    // coordinates}; the oracle replays the coordinates from the fixture
    QuerySpec("sp_asmap", (s, dir) => {
      val f = udf((wkb: Array[Byte]) => {
        val m = graft.engine.SpatialProcedures.asMap(wkb)
        val c = m("coordinates").asInstanceOf[Seq[Double]]
        (m("type").toString, c(0), c(1))
      })
      pointsDf(s, dir).select(col("ck"), f(col("geometry")).as("m"))
        .select(col("ck"), col("m._1").as("gname"),
          col("m._2").as("cx"), col("m._3").as("cy"))
        .orderBy(col("ck"))
    },
      (PtsCte +
        """
          |SELECT ck, 'Point' AS gname, x AS cx, y AS cy
          |FROM pts ORDER BY ck""".stripMargin)),

    // GeoTools-parity ECQL grammar beyond the reference's own generated
    // strings: LIKE / NOT LIKE / IN and
    // arithmetic inside comparisons — constructs a user migrating stored
    // CQL from a real deployment hits first. All compile to native
    // Columns (like/isin/arithmetic), so pushdown is unchanged
    QuerySpec("sp_ecql_like", (s, dir) =>
      new GeoFrame(pointsDf(s, dir)
          .join(T(s, dir, "customer").select(col("c_custkey").as("ck"),
            col("c_mktsegment"), col("c_name")), Seq("ck")))
        .filterEcql("c_mktsegment LIKE 'BUIL%' AND " +
          "c_nationkey IN (1, 3, 5, 7, 9, 11) AND " +
          "c_acctbal * 2 - 500 > 3000 AND " +
          "c_name NOT LIKE '%19%'")
        .df.transform(nationCents),
      """SELECT c_nationkey, count(*) AS n,
        |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
        |FROM customer
        |WHERE c_mktsegment LIKE 'BUIL%'
        |  AND c_nationkey IN (1, 3, 5, 7, 9, 11)
        |  AND c_acctbal * 2 - 500 > 3000
        |  AND c_name NOT LIKE '%19%'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ECQL long-tail parity: the ID filter (bare
    // IN over feature ids), the RELATE DE-9IM pattern predicate (exact,
    // no bbox prune — a pattern can demand disjointness), and the
    // GeoTools filter-function library's most-used names
    // (strToLowerCase, abs, floor) — all through the same Column compiler
    QuerySpec("sp_ecql_fn", (s, dir) =>
      new GeoFrame(pointsDf(s, dir)
          .join(T(s, dir, "customer").select(col("c_custkey").as("ck"),
            col("c_mktsegment"), col("c_name")), Seq("ck")))
        .filterEcql("(IN ('11', '22', '33') OR " +
          "(strToLowerCase(c_mktsegment) = 'building' AND " +
          "abs(c_acctbal - 5000) <= 2000 AND " +
          "floor(c_acctbal / 1000) IN (3, 4, 5, 6)) OR " +
          // filter-function tail: substring/index/match/minmax/
          // round/pow/pi through the same FunctionFinder-style registry
          "(strEndsWith(c_name, '1') = TRUE AND " +
          "strSubstring(c_mktsegment, 0, 4) = 'AUTO' AND " +
          "round(min(c_acctbal, 2000.0)) >= 1999 AND " +
          "strIndexOf(strToUpperCase(c_name), 'CUSTOMER') = 0 AND " +
          "pow(2, 3) + pi() > 11)) AND " +
          "RELATE(the_geom, " +
          "POLYGON ((-90 -45, 90 -45, 90 45, -90 45, -90 -45)), " +
          "'T********')")
        .df.select(col("ck"), col("x"), col("y")).orderBy(col("ck")),
      // ID filter = ck in the literal id set; RELATE 'T********' on a point
      // vs the rectangle = strict interior containment (generator x/y sit on
      // half-degree offsets, never on the boundary); functions replay as
      // lower/abs/floor
      (PtsCte +
        """
          |SELECT ck, x, y
          |FROM pts JOIN customer ON ck = c_custkey
          |WHERE (ck IN (11, 22, 33) OR
          |       (lower(c_mktsegment) = 'building' AND
          |        abs(pts.c_acctbal - 5000) <= 2000 AND
          |        floor(pts.c_acctbal / 1000) IN (3, 4, 5, 6)) OR
          |       (c_name LIKE '%1' AND
          |        substr(c_mktsegment, 1, 4) = 'AUTO' AND
          |        round(least(pts.c_acctbal, 2000.0)) >= 1999 AND
          |        strpos(upper(c_name), 'CUSTOMER') - 1 = 0 AND
          |        pow(2, 3) + pi() > 11))
          |  AND x > -90 AND x < 90 AND y > -45 AND y < 45
          |ORDER BY ck""".stripMargin)),

    // FES temporal predicates through the stored-CQL surface: AFTER an
    // instant and BEFORE OR DURING a period over a per-customer derived
    // first-order timestamp — the GeoTools compilation (< / <= period end)
    // replayed by the oracle as plain timestamp comparisons
    QuerySpec("sp_ecql_temporal", (s, dir) =>
      new GeoFrame(pointsDf(s, dir)
          .join(T(s, dir, "orders").groupBy(col("o_custkey").as("ck"))
            .agg(min(col("o_orderdate")).as("first_order")), Seq("ck")))
        .filterEcql("first_order AFTER 1992-12-31T23:59:59Z AND " +
          "first_order BEFORE OR DURING " +
          "1995-01-01T00:00:00Z/1995-12-31T00:00:00Z")
        .df.transform(nationCents),
      """WITH fo AS (
        |  SELECT o_custkey AS ck, min(o_orderdate) AS first_order
        |  FROM orders GROUP BY 1
        |)
        |SELECT c_nationkey, count(*) AS n,
        |       CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS cents
        |FROM customer JOIN fo ON ck = c_custkey
        |WHERE first_order > TIMESTAMP '1992-12-31 23:59:59'
        |  AND first_order <= TIMESTAMP '1995-12-31 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ECQL DWITHIN with METRIC units: the
    // units token routes through the geodesic tier — exact orthodromic
    // distance, latitude-aware search-window prune — so a stored GeoTools
    // filter with meters means meters; hash-matched against the
    // withinDistanceKm oracle (1 500 000 m = the same 1500 km ball)
    QuerySpec("sp_ecql_dwithin", (s, dir) =>
      new GeoFrame(pointsDf(s, dir))
        .filterEcql("DWITHIN(the_geom, POINT (10.5 20.5), 1500000, meters)")
        .df.select(col("ck").as("id"),
          round(st.orthodromicKm(lit(10.5), lit(20.5), col("x"), col("y")), 3)
            .as("dist_km"))
        .orderBy(col("dist_km"), col("id")),
      // identical ball to sp_within_distance: DWITHIN 1 500 000 meters must
      // land on the exact same geodesic-kilometer oracle
      BallOracle),

    // FilterPropertyNull / FilterPropertyNotNull pipes (reference:
    // FilterPropertyNull.java:28, FilterPropertyNotNull.java:29) — a
    // nullable derived property filtered both ways through the layer's
    // filterExpr surface; balances summed as exact integer cents
    QuerySpec("sp_prop_null", (s, dir) => {
      val layer = new GeoFrame(pointsDf(s, dir)
        .withColumn("nbal", when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))))
      val nulls = layer.filterExpr("nbal IS NULL").df
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_null"))
      val notNulls = layer.filterExpr("nbal IS NOT NULL").df
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_notnull"),
          sum(round(col("nbal") * 100).cast("long")).as("cents"))
      nulls.join(notNulls, Seq("c_nationkey"), "full")
        .select(col("c_nationkey"),
          coalesce(col("n_null"), lit(0L)).as("n_null"),
          coalesce(col("n_notnull"), lit(0L)).as("n_notnull"),
          col("cents"))
        .orderBy(col("c_nationkey"))
    },
      (PtsCte +
        """
          |, np AS (
          |  SELECT c_nationkey,
          |         CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS nbal
          |  FROM pts
          |)
          |SELECT c_nationkey,
          |       CAST(sum(CASE WHEN nbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          |       CAST(sum(CASE WHEN nbal IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_notnull,
          |       CAST(sum(CASE WHEN nbal IS NOT NULL THEN round(nbal * 100) END) AS BIGINT) AS cents
          |FROM np GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Densify pipe (Densify.java:31): JTS splits each segment into
    // floor(len/tol)+1 pieces — closed-form point count per nation line
    QuerySpec("sp_densify_npoints", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          st.numPoints(st.densify(col("geometry"), lit(0.7))).cast("long").as("n_dense"))
        .orderBy(col("c_nationkey")),
      (SegLengthsCtes +
        """
          |SELECT c_nationkey,
          |       CAST(1 + coalesce(sum(floor(seg / 0.7) + 1), 0) AS BIGINT) AS n_dense
          |FROM segs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // OrthodromicLength pipe (OrthodromicLength.java:34-74): spherical
    // segment-sum over each nation polyline
    QuerySpec("sp_ortho_length", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          round(st.orthodromicLengthKm(col("geometry")), 3).as("len_km"))
        .orderBy(col("c_nationkey")),
      (PolylineSegsCtes +
        """
          |SELECT c_nationkey,
          |  round(coalesce(sum(acos(least(sin(radians(y1)) * sin(radians(y2))
          |        + cos(radians(y1)) * cos(radians(y2))
          |        * cos(radians(x2) - radians(x1)), 1.0)) * 6371), 0), 3) AS len_km
          |FROM segs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // geodesic polygon area (Chamberlain-Duquette spherical formula, the
    // turf.js/JPL discrete form) beside the planar degree² contrast
    QuerySpec("sp_geodesic_area", (s, dir) =>
      natBoxesDf(s, dir)
        .withColumn("geometry", st.geomFromText(col("wkt")))
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          round(st.geodesicAreaKm2(col("geometry")), 3).as("area_km2"),
          round(st.area(col("geometry")), 6).as("planar_deg2"))
        .orderBy(col("n_nationkey")),
      // Chamberlain-Duquette replay: the four ring segments written in ring
      // order as one left-associated sum (matches ringTotal's loop exactly)
      """WITH nb AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |         n_nationkey * 3 - 39.5 AS x0, n_nationkey * 3 - 34.5 AS x1,
        |         n_nationkey * 2 - 29.5 AS y0, n_nationkey * 2 - 25.5 AS y1
        |  FROM nation
        |), t AS (
        |  SELECT n_nationkey, x0, x1, y0, y1,
        |    (radians(x1) - radians(x0)) * (2 + sin(radians(y0)) + sin(radians(y0)))
        |  + (radians(x1) - radians(x1)) * (2 + sin(radians(y0)) + sin(radians(y1)))
        |  + (radians(x0) - radians(x1)) * (2 + sin(radians(y1)) + sin(radians(y1)))
        |  + (radians(x0) - radians(x0)) * (2 + sin(radians(y1)) + sin(radians(y0))) AS total
        |  FROM nb
        |)
        |SELECT n_nationkey,
        |  round(abs(total) * 6378137.0 * 6378137.0 / 2 / 1000000.0, 3) AS area_km2,
        |  round((x1 - x0) * (y1 - y0), 6) AS planar_deg2
        |FROM t ORDER BY 1""".stripMargin),

    // linear referencing: the point at fraction f of each nation polyline's
    // planar length (ST_LineInterpolatePoint), as a pure-codegen window
    // plan — segment lead/lag, ONE sequential running-sum pass for the
    // cumulative length (cumBefore = lag(cum), never cum−seglen: fp
    // subtraction would diverge from the oracle's running value), segment
    // located by cumBefore ≤ f·total < cum, then one lerp. No geometry
    // object is ever materialized, so a 100 TB line table interpolates in
    // one windowed scan + a 3-row broadcast of the fraction table
    QuerySpec("sp_line_interpolate", (s, dir) => {
      val seg = nationSegments(s, dir)
      val fr = s.range(1, 4).select((col("id") * 0.25).as("frac"))
      cutPoints(seg, fr)
        .orderBy(col("nk"), col("frac"))
    },
      // linear-referencing replay: identical window shapes (running sum in
      // ROWS order = Spark's sequential pass; cumb via lag, total via
      // partition max of the SAME running values) and the identical lerp
      // expression tree, so doubles agree before the round(…, 6)
      (NationSegmentsCtes +
        """, fr AS (SELECT f * 0.25 AS frac FROM range(1, 4) t(f))
          |SELECT nk, frac,
          |       round(x + (x2 - x) * ((frac * total - cumb) / seglen), 6) AS px,
          |       round(y + (y2 - y) * ((frac * total - cumb) / seglen), 6) AS py
          |FROM cum2, fr
          |WHERE cumb <= frac * total AND frac * total < cum
          |ORDER BY nk, frac""".stripMargin)),

    // ST_LineSubstring's shape on the same one-window-pass machinery:
    // the [0.2, 0.8] sub-polyline per nation — interior vertex count from
    // EXACT comparisons on the shared running sum (f1·total < cum < f2·total)
    // plus the two interpolated cut points, pivoted by conditional max
    // (each guard selects exactly one row, so the aggregate is order-free)
    QuerySpec("sp_line_substring", (s, dir) => {
      val seg = nationSegments(s, dir)
      val interior = seg
        .filter(lit(0.2) * col("total") < col("cum")
          && col("cum") < lit(0.8) * col("total"))
        .groupBy("nk").agg(count(lit(1)).as("n_interior"))
      val fr = s.range(1, 5, 3).select((col("id") * 0.2).as("frac"))
      val cuts = cutPoints(seg, fr)
        .groupBy("nk").agg(
          max(when(col("frac") < 0.5, col("px"))).as("sx"),
          max(when(col("frac") < 0.5, col("py"))).as("sy"),
          max(when(col("frac") > 0.5, col("px"))).as("ex"),
          max(when(col("frac") > 0.5, col("py"))).as("ey"))
      cuts.join(interior, Seq("nk"), "left")
        .select(col("nk"),
          (coalesce(col("n_interior"), lit(0L)) + 2L).as("n_points"),
          col("sx"), col("sy"), col("ex"), col("ey"))
        .orderBy(col("nk"))
    },
      // sub-polyline replay on the same window CTEs; the cut-point pivot's
      // conditional max sees exactly one row per guard so it is order-free
      (NationSegmentsCtes +
        """, interior AS (
          |  SELECT nk, count(*) AS n_interior FROM cum2
          |  WHERE 0.2 * total < cum AND cum < 0.8 * total GROUP BY 1
          |), fr AS (
          |  SELECT f * CAST(0.2 AS DOUBLE) AS frac FROM (VALUES (1), (4)) t(f)
          |), cuts AS (
          |  SELECT nk, frac,
          |         round(x + (x2 - x) * ((frac * total - cumb) / seglen), 6) AS px,
          |         round(y + (y2 - y) * ((frac * total - cumb) / seglen), 6) AS py
          |  FROM cum2, fr
          |  WHERE cumb <= frac * total AND frac * total < cum
          |), piv AS (
          |  SELECT nk,
          |         max(CASE WHEN frac < 0.5 THEN px END) AS sx,
          |         max(CASE WHEN frac < 0.5 THEN py END) AS sy,
          |         max(CASE WHEN frac > 0.5 THEN px END) AS ex,
          |         max(CASE WHEN frac > 0.5 THEN py END) AS ey
          |  FROM cuts GROUP BY 1
          |)
          |SELECT p.nk, CAST(coalesce(i.n_interior, 0) + 2 AS BIGINT) AS n_points,
          |       sx, sy, ex, ey
          |FROM piv p LEFT JOIN interior i ON i.nk = p.nk ORDER BY p.nk""".stripMargin)),

    // IDW spatial interpolation (Shepard 1968, power 2): account balance
    // surface sampled at each nation's centroid from its k=8 nearest
    // customer points. Exactness chain: point coords are halves (sums are
    // exact in any order), the centroid is one division of exact values,
    // d² is the identical expression tree, the rank window tie-breaks on
    // (d2, ck), and the 8 weight/contribution terms are pivoted into
    // explicit columns and added in ONE fixed textual order — so the
    // doubles match the oracle bit-for-bit before the final round. The
    // rank filter plans as WindowGroupLimit (per-partition heaps); the
    // 25-row centroid table broadcasts against the point scan.
    // quadrat-count χ² test of complete spatial randomness over the FULL
    // 36×18 10° lattice (empty quadrats count): χ² = Σ(nᵢ−μ)²/μ expanded
    // to Σn² − 2μΣn + Qμ² over exact integer moments (only the occupied
    // cells are ever materialized — the (Q−k)·μ² empty mass is algebra)
    QuerySpec("sp_quadrat", (s, dir) => {
      val cells = gridCells(s, dir)
      val q = 36L * 18L
      cells.agg(count(lit(1)).as("k"), sum("n").as("s1"),
          sum(col("n") * col("n")).as("s2"))
        .withColumn("mu", col("s1").cast("double") / lit(q.toDouble))
        .select(lit(q).as("quadrats"), col("k").as("occupied"),
          col("s1").as("n_points"), round(col("mu"), 6).as("mu"),
          round((col("s2").cast("double") -
            lit(2.0) * col("mu") * col("s1").cast("double") +
            lit(q.toDouble) * col("mu") * col("mu")) / col("mu"), 6)
            .as("chi2"))
    },
      // IDW replay: same centroid division, same d² tree, same (d2, ck) rank
      // tie-break, the same 8 pivoted terms added left-to-right
      (GridCellsCtes + """, m AS (
        |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS s1,
        |         CAST(sum(n*n) AS BIGINT) AS s2
        |  FROM cells
        |), f AS (
        |  SELECT k, s1, s2, CAST(s1 AS DOUBLE) / 648.0 AS mu FROM m
        |)
        |SELECT CAST(648 AS BIGINT) AS quadrats, k AS occupied, s1 AS n_points,
        |       round(mu, 6) AS mu,
        |       round((CAST(s2 AS DOUBLE) - 2.0 * mu * CAST(s1 AS DOUBLE)
        |              + 648.0 * mu * mu) / mu, 6) AS chi2
        |FROM f""".stripMargin)),

    // spatial Gini over 10° grid-cell populations — "how concentrated is
    // the point mass": the exact rank formula (2Σ i·xᵢ − (n+1)Σx)/(nΣx)
    // over ascending cell counts, both moments exact integers (the
    // ev_gini discipline applied to the spatial lattice)
    QuerySpec("sp_gini", (s, dir) => {
      val cells = gridCells(s, dir)
      val ranked = cells.withColumn("i",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n"), col("cx"), col("cy"))).cast("long"))
      ranked.agg(count(lit(1)).as("m"), sum("n").as("sx"),
          sum(col("i") * col("n")).as("sixi"))
        .select(col("m").as("n_cells"), col("sx").as("n_points"),
          round((lit(2L) * col("sixi") - (col("m") + lit(1L)) * col("sx"))
            / (col("m") * col("sx")), 6).as("gini"))
    },
      (GridCellsCtes + """, r AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n, cx, cy) AS BIGINT) AS i
        |  FROM cells
        |), m AS (
        |  SELECT count(*) AS m, CAST(sum(n) AS BIGINT) AS sx,
        |         CAST(sum(i * n) AS BIGINT) AS sixi
        |  FROM r
        |)
        |SELECT m AS n_cells, sx AS n_points,
        |       round((2 * sixi - (m + 1) * sx) / (m * sx), 6) AS gini
        |FROM m""".stripMargin)),

    // Ripley's K point-pattern statistic (Ripley 1977) at r = 1,2,4,8°:
    // exact unordered pair counts within each radius — candidates from an
    // 8°-cell 3×3 grid self-join (cell width = max radius ⇒ adjacency is
    // provably sufficient: |Δ| ≤ width ⇒ floor-cell diff ≤ 1), never the
    // n² cross join the oracle replays; K̂(r) = 2·pairs·A/(n(n−1)) with
    // A = 64800 deg². Clustered patterns push K̂ above πr². Caveat: pair
    // volume is quadratic within the densest cell — at survey scale Ripley
    // runs on a uniform point sample (the estimator is sample-consistent),
    // exactly as the literature prescribes
    QuerySpec("sp_ripley", (s, dir) => {
      val pts = pointsDf(s, dir).select(col("ck"), col("x"), col("y"))
        .withColumn("cellx", floor((col("x") + 180.0) / 8.0).cast("long"))
        .withColumn("celly", floor((col("y") + 90.0) / 8.0).cast("long"))
      val tot = pts.agg(count(lit(1)).as("np"))
      val offs = for { dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L) }
        yield (dx, dy)
      val probe = pts.select(col("ck").as("cka"), col("x").as("xa"),
          col("y").as("ya"),
          explode(array(offs.map { case (dx, dy) =>
            struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"),
          col("cellx"), col("celly"))
        .select(col("cka"), col("xa"), col("ya"),
          (col("cellx") + col("o.dx")).as("cellx"),
          (col("celly") + col("o.dy")).as("celly"))
      val cnts = probe.join(pts.select(col("ck").as("ckb"), col("x").as("xb"),
          col("y").as("yb"), col("cellx"), col("celly")), Seq("cellx", "celly"))
        .filter(col("cka") < col("ckb"))
        .withColumn("d2", (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .agg(sum(when(col("d2") <= 1.0, 1L).otherwise(0L)).as("p1"),
          sum(when(col("d2") <= 4.0, 1L).otherwise(0L)).as("p2"),
          sum(when(col("d2") <= 16.0, 1L).otherwise(0L)).as("p4"),
          sum(when(col("d2") <= 64.0, 1L).otherwise(0L)).as("p8"))
      cnts.crossJoin(tot)
        .select(explode(array(
          struct(lit(1L).as("r"), col("p1").as("pairs")),
          struct(lit(2L).as("r"), col("p2").as("pairs")),
          struct(lit(4L).as("r"), col("p4").as("pairs")),
          struct(lit(8L).as("r"), col("p8").as("pairs")))).as("e"), col("np"))
        .select(col("e.r").as("r"), col("e.pairs").as("pairs"),
          round(col("e.pairs").cast("double") * 2.0 * 64800.0 /
            (col("np").cast("double") * (col("np") - 1).cast("double")), 6)
            .as("k_est"))
        .orderBy("r")
    },
      (PtsCte + """
        |, pr AS (
        |  SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
        |  FROM pts a JOIN pts b ON a.ck < b.ck
        |  WHERE abs(a.x - b.x) <= 8 AND abs(a.y - b.y) <= 8
        |), cn AS (
        |  SELECT sum(CASE WHEN d2 <= 1.0 THEN 1 ELSE 0 END) AS p1,
        |         sum(CASE WHEN d2 <= 4.0 THEN 1 ELSE 0 END) AS p2,
        |         sum(CASE WHEN d2 <= 16.0 THEN 1 ELSE 0 END) AS p4,
        |         sum(CASE WHEN d2 <= 64.0 THEN 1 ELSE 0 END) AS p8
        |  FROM pr
        |), t AS (
        |  SELECT count(*) AS np FROM pts
        |), rows_out AS (
        |  SELECT 1 AS r, p1 AS pairs FROM cn
        |  UNION ALL SELECT 2, p2 FROM cn
        |  UNION ALL SELECT 4, p4 FROM cn
        |  UNION ALL SELECT 8, p8 FROM cn
        |)
        |SELECT CAST(r AS BIGINT) AS r, CAST(pairs AS BIGINT) AS pairs,
        |       round(CAST(pairs AS DOUBLE) * 2.0 * 64800.0
        |             / (CAST(np AS DOUBLE) * CAST(np - 1 AS DOUBLE)), 6) AS k_est
        |FROM rows_out CROSS JOIN t ORDER BY r""".stripMargin)),

    // global Moran's I spatial autocorrelation (Moran 1950) over the 10°
    // grid with 8-neighbor (queen) weights on non-empty cells: the
    // cross-product Σ wij·(xi−x̄)(xj−x̄) is EXPANDED into the exact integer
    // moments P=Σ xi·xj, Q=Σ (xi+xj), W=|pairs| so no float accumulates in
    // any order-dependent sum — I = (N/W)·(P − x̄Q + x̄²W)/(S2 − N·x̄²).
    // One 8-offset keyed self-join, one scalar row out (I and E[I])
    QuerySpec("sp_moran", (s, dir) => {
      val cells = gridCells(s, dir)
      val gs = cells.agg(count(lit(1)).as("nn"),
        sum("n").as("s1"), sum(col("n") * col("n")).as("s2"))
      val offs = for { dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L)
        if !(dx == 0 && dy == 0) } yield (dx, dy)
      val nbr = cells.select(col("cx"), col("cy"), col("n"),
          explode(array(offs.map { case (dx, dy) =>
            struct(lit(dx).as("dx"), lit(dy).as("dy")) }: _*)).as("o"))
        .select((col("cx") + col("o.dx")).as("jcx"),
          (col("cy") + col("o.dy")).as("jcy"), col("n").as("ni"))
      val pairs = nbr.join(cells.select(col("cx").as("jcx"),
          col("cy").as("jcy"), col("n").as("nj")), Seq("jcx", "jcy"))
        .agg(sum(col("ni") * col("nj")).as("p"),
          sum(col("ni") + col("nj")).as("q"), count(lit(1)).as("w"))
      val nd = col("nn").cast("double")
      val xbar = col("s1").cast("double") / nd
      pairs.crossJoin(gs)
        .select(col("nn").as("n_cells"), col("w").as("n_pairs"),
          round((nd / col("w").cast("double")) *
            (col("p").cast("double") - xbar * col("q").cast("double") +
              xbar * xbar * col("w").cast("double")) /
            (col("s2").cast("double") - nd * xbar * xbar), 6).as("moran_i"),
          round(lit(-1.0) / (nd - 1), 6).as("e_i"))
    },
      (GridCellsCtes + """, gs AS (
        |  SELECT count(*) AS nn, sum(n) AS s1, sum(n*n) AS s2 FROM cells
        |), nbr AS (
        |  SELECT c.cx + o.dx AS jcx, c.cy + o.dy AS jcy, c.n AS ni
        |  FROM cells c CROSS JOIN (
        |    SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx),
        |                       (VALUES (-1), (0), (1)) b(dy)
        |    WHERE NOT (dx = 0 AND dy = 0)) o
        |), prs AS (
        |  SELECT sum(t.ni * e.n) AS p, sum(t.ni + e.n) AS q, count(*) AS w
        |  FROM nbr t JOIN cells e ON e.cx = t.jcx AND e.cy = t.jcy
        |), f AS (
        |  SELECT g.nn, prs.w, prs.p, prs.q, g.s2,
        |         CAST(g.nn AS DOUBLE) AS nd,
        |         CAST(g.s1 AS DOUBLE) / CAST(g.nn AS DOUBLE) AS xbar
        |  FROM prs CROSS JOIN gs g
        |)
        |SELECT nn AS n_cells, w AS n_pairs,
        |       round((nd / CAST(w AS DOUBLE))
        |             * (CAST(p AS DOUBLE) - xbar * CAST(q AS DOUBLE)
        |                + xbar * xbar * CAST(w AS DOUBLE))
        |             / (CAST(s2 AS DOUBLE) - nd * xbar * xbar), 6) AS moran_i,
        |       round(-1.0 / (nd - 1), 6) AS e_i
        |FROM f""".stripMargin)),

    // Getis–Ord Gi* hot-spot statistic over the 10° point grid (Getis &
    // Ord, Geo. Analysis 1992): z-score of each cell's 3×3-neighborhood
    // mass against the lattice mean — the spatial-statistics "where are
    // the significant clusters" readout beside the raw density islands.
    // Lattice = non-empty cells (documented); S_i/W_i/moments are exact
    // integers, z is a fixed tree over them. Plan: cell counts map-side
    // combine, the neighborhood sum is a 9-way offset explode + keyed
    // self-join (never a spatial cross join), top-15 is a TakeOrdered
    QuerySpec("sp_hotspot", (s, dir) => {
      val cells = gridCells(s, dir)
      val glob = cells.agg(count(lit(1)).as("nn"),
        sum("n").as("s1"), sum(col("n") * col("n")).as("s2"))
      val offs = Seq(-1L, 0L, 1L)
      val contrib = cells.select(col("cx"), col("cy"), col("n"),
          explode(array(offs.flatMap(dx => offs.map(dy =>
            struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)).as("o"))
        .select((col("cx") + col("o.dx")).as("ccx"),
          (col("cy") + col("o.dy")).as("ccy"), col("n"))
      val hood = contrib
        .join(cells.select(col("cx").as("ccx"), col("cy").as("ccy")), Seq("ccx", "ccy"))
        .groupBy(col("ccx").as("cx"), col("ccy").as("cy"))
        .agg(sum("n").as("si"), count(lit(1)).as("wi"))
      val nd = col("nn").cast("double")
      val xbar = col("s1").cast("double") / nd
      val sdev = sqrt(col("s2").cast("double") / nd - xbar * xbar)
      val wid = col("wi").cast("double")
      hood.crossJoin(glob)
        .withColumn("z",
          (col("si").cast("double") - xbar * wid) /
            (sdev * sqrt((nd * wid - wid * wid) / (nd - 1))))
        .select(col("cx"), col("cy"), col("si"), col("wi"),
          round(col("z"), 6).as("gi_z"))
        .orderBy(col("gi_z").desc, col("cx"), col("cy")).limit(15)
    },
      (GridCellsCtes + """, gstats AS (
        |  SELECT count(*) AS nn, sum(n) AS s1, sum(n*n) AS s2 FROM cells
        |), contrib AS (
        |  SELECT c.cx + o.dx AS ccx, c.cy + o.dy AS ccy, c.n
        |  FROM cells c CROSS JOIN (
        |    SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx),
        |                       (VALUES (-1), (0), (1)) b(dy)) o
        |), hood AS (
        |  SELECT t.ccx AS cx, t.ccy AS cy, sum(t.n) AS si, count(*) AS wi
        |  FROM contrib t JOIN cells e ON e.cx = t.ccx AND e.cy = t.ccy
        |  GROUP BY 1, 2
        |), f AS (
        |  SELECT h.cx, h.cy, h.si, h.wi,
        |         CAST(g.nn AS DOUBLE) AS nd,
        |         CAST(g.s1 AS DOUBLE) / CAST(g.nn AS DOUBLE) AS xbar,
        |         sqrt(CAST(g.s2 AS DOUBLE) / CAST(g.nn AS DOUBLE)
        |              - (CAST(g.s1 AS DOUBLE) / CAST(g.nn AS DOUBLE))
        |                * (CAST(g.s1 AS DOUBLE) / CAST(g.nn AS DOUBLE))) AS sdev,
        |         CAST(h.wi AS DOUBLE) AS wid
        |  FROM hood h CROSS JOIN gstats g
        |)
        |SELECT cx, cy, CAST(si AS BIGINT) AS si, wi,
        |       round((CAST(si AS DOUBLE) - xbar * wid)
        |             / (sdev * sqrt((nd * wid - wid * wid) / (nd - 1))), 6) AS gi_z
        |FROM f ORDER BY gi_z DESC, cx, cy LIMIT 15""".stripMargin)),

    // per-nation skyline (Pareto front) over (distance-to-centroid,
    // account balance) — the classic spatial-DB preference query
    // (Börzsönyi ICDE'01), as the sort-filter-skyline plan: one (nk, d2)
    // group-max, one window over DISTINCT-d2 groups (rows-frame ⇒ strictly
    // smaller d2), survive iff cents ≥ that running max. Strict dominance
    // (both coordinates strictly better), so ties never dominate; all
    // comparisons are on exact cents and bit-identical d2 doubles
    QuerySpec("sp_skyline", (s, dir) => {
      val base = pointsDf(s, dir)
      val pts = base.select(col("c_nationkey").cast("long").as("nk"), col("ck"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        col("x"), col("y"))
      val cen = base.groupBy(col("c_nationkey").cast("long").as("cnk"))
        .agg((sum("x") / count(lit(1))).as("cx"),
          (sum("y") / count(lit(1))).as("cy"))
      val d = pts.join(broadcast(cen), col("nk") === col("cnk"))
        .withColumn("d2",
          (col("x") - col("cx")) * (col("x") - col("cx")) +
            (col("y") - col("cy")) * (col("y") - col("cy")))
      val g = d.groupBy("nk", "d2").agg(max("cents").as("gmax"))
      val wg = org.apache.spark.sql.expressions.Window
        .partitionBy("nk").orderBy("d2")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val gp = g.withColumn("pmax", max("gmax").over(wg))
        .select(col("nk"), col("d2"), col("pmax"))
      d.join(gp, Seq("nk", "d2"))
        .filter(col("pmax").isNull || col("cents") >= col("pmax"))
        .select(col("nk"), col("ck"), col("cents"), round(col("d2"), 6).as("d2"))
        .orderBy("nk", "d2", "ck")
    },
      (PtsCte + """
        |, cen AS (
        |  SELECT c_nationkey AS cnk, sum(x) / count(*) AS cx,
        |         sum(y) / count(*) AS cy
        |  FROM pts GROUP BY 1
        |), d AS (
        |  SELECT p.c_nationkey AS nk, p.ck,
        |         CAST(round(p.c_acctbal * 100) AS BIGINT) AS cents,
        |         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2
        |  FROM pts p JOIN cen c ON c.cnk = p.c_nationkey
        |), g AS (
        |  SELECT nk, d2, max(cents) AS gmax FROM d GROUP BY 1, 2
        |), gp AS (
        |  SELECT nk, d2,
        |         max(gmax) OVER (PARTITION BY nk ORDER BY d2
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM g
        |)
        |SELECT CAST(d.nk AS BIGINT) AS nk, d.ck, d.cents, round(d.d2, 6) AS d2
        |FROM d JOIN gp ON gp.nk = d.nk AND gp.d2 = d.d2
        |WHERE gp.pmax IS NULL OR d.cents >= gp.pmax
        |ORDER BY nk, d2, ck""".stripMargin)),

    // discrete Voronoi partition: every customer point assigned to its
    // nearest nation-centroid site (argmin over (d2, site) — site id breaks
    // exact-distance ties, so the discrete decision is engine-independent),
    // then per-cell exact-integer stats. Sites broadcast; the per-point
    // argmin is a map-side-combinable struct-min, never a window over the
    // fan-out — the 100 TB nearest-site plan. Centroids are exact: x/y are
    // halves, so their double sums are exact before the one division.
    QuerySpec("sp_voronoi", (s, dir) => {
      val base = pointsDf(s, dir)
      val pts = base.select(col("ck"), col("x"), col("y"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val cen = base.groupBy(col("c_nationkey").as("site"))
        .agg((sum("x") / count(lit(1))).as("cx"),
          (sum("y") / count(lit(1))).as("cy"))
      pts.crossJoin(broadcast(cen))
        .withColumn("d2",
          (col("x") - col("cx")) * (col("x") - col("cx")) +
            (col("y") - col("cy")) * (col("y") - col("cy")))
        .groupBy("ck", "x", "y", "cents")
        .agg(min(struct(col("d2"), col("site"))).as("m"))
        .select(col("ck"), col("x"), col("y"), col("cents"),
          col("m.site").as("site"))
        .groupBy("site")
        .agg(count(lit(1)).as("n_pts"), sum("cents").as("cents"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("site")
    },
      (PtsCte + """
        |, cen AS (
        |  SELECT c_nationkey AS site, sum(x) / count(*) AS cx,
        |         sum(y) / count(*) AS cy
        |  FROM pts GROUP BY 1
        |), xj AS (
        |  SELECT p.ck, p.x, p.y,
        |         CAST(round(p.c_acctbal * 100) AS BIGINT) AS cents, c.site,
        |         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2
        |  FROM pts p CROSS JOIN cen c
        |), asg AS (
        |  SELECT * FROM xj
        |  QUALIFY row_number() OVER (PARTITION BY ck ORDER BY d2, site) = 1
        |)
        |SELECT site, count(*) AS n_pts, CAST(sum(cents) AS BIGINT) AS cents,
        |       min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("sp_idw", (s, dir) => {
      val pts = pointsDf(s, dir).select(col("c_nationkey").as("nk"),
        col("ck"), col("x"), col("y"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val cen = pts.groupBy(col("nk").as("cnk"))
        .agg((sum("x") / count(lit(1))).as("cx"),
          (sum("y") / count(lit(1))).as("cy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cnk").orderBy(col("d2"), col("ck"))
      val ranked = pts.join(broadcast(cen), col("nk") === col("cnk"))
        .withColumn("d2", greatest(
          (col("x") - col("cx")) * (col("x") - col("cx"))
            + (col("y") - col("cy")) * (col("y") - col("cy")), lit(1e-12)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .withColumn("wt", lit(1.0) / col("d2"))
        .withColumn("cw", col("wt") * col("cents"))
      def term(c: String, i: Int) =
        coalesce(max(when(col("rn") === i, col(c))), lit(0.0))
      val sw = (1 to 8).map(term("wt", _)).reduce(_ + _)
      val scw = (1 to 8).map(term("cw", _)).reduce(_ + _)
      ranked.groupBy(col("cnk").as("nk"))
        .agg(count(lit(1)).as("k"), round(scw / sw, 4).as("idw_cents"))
        .orderBy("nk")
    },
      (PtsCte + {
        def t(c: String, i: Int) =
          s"coalesce(max(CASE WHEN rn = $i THEN $c END), 0.0)"
        val sw = (1 to 8).map(t("wt", _)).mkString(" + ")
        val scw = (1 to 8).map(t("cw", _)).mkString(" + ")
        s"""
           |, p AS (
           |  SELECT c_nationkey AS nk, ck, x, y,
           |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           |  FROM pts
           |), cen AS (
           |  SELECT nk AS cnk, sum(x) / count(*) AS cx, sum(y) / count(*) AS cy
           |  FROM p GROUP BY 1
           |), d AS (
           |  SELECT p.nk, p.ck, p.cents,
           |         greatest((p.x - c.cx) * (p.x - c.cx)
           |                  + (p.y - c.cy) * (p.y - c.cy), 1e-12) AS d2
           |  FROM p JOIN cen c ON p.nk = c.cnk
           |), r AS (
           |  SELECT nk, cents, d2,
           |         row_number() OVER (PARTITION BY nk ORDER BY d2, ck) AS rn
           |  FROM d
           |), k8 AS (
           |  SELECT nk, rn, 1.0 / d2 AS wt, (1.0 / d2) * cents AS cw
           |  FROM r WHERE rn <= 8
           |)
           |SELECT nk, count(*) AS k,
           |       round(($scw) / ($sw), 4) AS idw_cents
           |FROM k8 GROUP BY 1 ORDER BY 1""".stripMargin
      })),

    // forward azimuths along each nation polyline: first / min / max
    // bearing per nation (order-free exact aggregates of identical double
    // sets), pure codegen Column arithmetic
    QuerySpec("sp_bearing", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_nationkey").orderBy("ck")
      pointsDf(s, dir)
        .select(col("ck"), col("c_nationkey"), col("x"), col("y"))
        .withColumn("px", lag(col("x"), 1).over(w))
        .withColumn("py", lag(col("y"), 1).over(w))
        .filter(col("px").isNotNull)
        .withColumn("b", st.bearingDeg(col("px"), col("py"), col("x"), col("y")))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_seg"),
          round(expr("min_by(b, ck)"), 6).as("b_first"),
          round(min(col("b")), 6).as("b_min"),
          round(max(col("b")), 6).as("b_max"))
        .orderBy(col("c_nationkey"))
    },
      (PtsCte +
        """
          |, segs AS (
          |  SELECT c_nationkey, ck,
          |         lag(x) OVER w AS px, lag(y) OVER w AS py, x, y
          |  FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
          |), b AS (
          |  SELECT c_nationkey, ck,
          |    fmod(degrees(atan2(
          |        sin(radians(x) - radians(px)) * cos(radians(y)),
          |        cos(radians(py)) * sin(radians(y))
          |          - sin(radians(py)) * cos(radians(y))
          |            * cos(radians(x) - radians(px)))) + 360.0, 360.0) AS b
          |  FROM segs WHERE px IS NOT NULL
          |)
          |SELECT c_nationkey, count(*)::BIGINT AS n_seg,
          |       round(arg_min(b, ck), 6) AS b_first,
          |       round(min(b), 6) AS b_min, round(max(b), 6) AS b_max
          |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Ellipsoidal sibling of sp_ortho_length: Andoyer-Lambert WGS84 geodesic
    // segment-sum — closes the documented sphere-vs-ellipsoid ~0.3% gap
    // (the reference's GeodeticCalculator path, OrthodromicLength.java:34-74)
    QuerySpec("sp_geodesic_length", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          round(st.geodesicLengthKm(col("geometry")), 3).as("len_km"))
        .orderBy(col("c_nationkey")),
      // Andoyer-Lambert replay: same segment windows, half-angles averaged in
      // degrees then radians (matches Orthodromic.geodesicKm operation order)
      (PolylineSegsCtes +
        """, trig AS (
          |  SELECT c_nationkey,
          |         sin(radians((y1 + y2) / 2)) AS sinf, cos(radians((y1 + y2) / 2)) AS cosf,
          |         sin(radians((y1 - y2) / 2)) AS sing, cos(radians((y1 - y2) / 2)) AS cosg,
          |         sin(radians((x1 - x2) / 2)) AS sinl, cos(radians((x1 - x2) / 2)) AS cosl
          |  FROM segs WHERE x1 IS NOT NULL
          |), sc AS (
          |  SELECT c_nationkey, sinf, cosf, sing, cosg,
          |         sing * sing * cosl * cosl + cosf * cosf * sinl * sinl AS s,
          |         cosg * cosg * cosl * cosl + sinf * sinf * sinl * sinl AS c
          |  FROM trig
          |), seg AS (
          |  SELECT c_nationkey,
          |    CASE WHEN s = 0 THEN 0
          |         WHEN c = 0 THEN 2 * atan2(sqrt(s), sqrt(c)) * 6378.137
          |         ELSE (2 * atan2(sqrt(s), sqrt(c)) * 6378.137)
          |              * (1 + (1.0 / 298.257223563) * (
          |                   ((3 * (sqrt(s * c) / atan2(sqrt(s), sqrt(c))) - 1) / (2 * c))
          |                     * sinf * sinf * cosg * cosg
          |                 - ((3 * (sqrt(s * c) / atan2(sqrt(s), sqrt(c))) + 1) / (2 * s))
          |                     * cosf * cosf * sing * sing))
          |    END AS d
          |  FROM sc
          |)
          |SELECT c_nationkey, round(coalesce(sum(d), 0), 3) AS len_km
          |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MVT tile bake: quantize points into the zoom-3 equirectangular
    // pyramid (every quantized coordinate a small-denominator rational →
    // bit-identical across engines), ENCODE each tile as a real Mapbox
    // Vector Tile on executors (groupByKey(tile).mapGroups — the
    // embarrassingly parallel bake), then DECODE the protobuf bytes back
    // and aggregate — the oracle recomputes the same quantization
    // relationally, so the roundtrip gates the whole codec
    QuerySpec("sp_mvt_bake", (s, dir) => {
      import s.implicits._
      import graft.sources.Mvt
      val scale = (1 << 3) * Mvt.Extent   // zoom 3: 8 tiles per axis
      val quant = pointsDf(s, dir)
        .withColumn("fgx", floor((col("x") + 180.0) / 360.0 * scale))
        .withColumn("fgy", floor((lit(90.0) - col("y")) / 180.0 * scale))
        .select(col("ck"), col("c_nationkey"),
          floor(col("fgx") / Mvt.Extent).cast("int").as("tx"),
          floor(col("fgy") / Mvt.Extent).cast("int").as("ty"),
          (col("fgx") - lit(Mvt.Extent) * floor(col("fgx") / Mvt.Extent)).cast("int").as("px"),
          (col("fgy") - lit(Mvt.Extent) * floor(col("fgy") / Mvt.Extent)).cast("int").as("py"))
      val tiles = quant.select(col("tx"), col("ty"), col("ck"), col("px"), col("py"),
          col("c_nationkey"))
        .as[(Int, Int, Long, Int, Int, Int)]
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Int, Int, Int)]) =>
          val feats = it.map(r =>
            Mvt.PointFeature(r._3, r._4, r._5, Seq("nk" -> r._6.toLong))).toSeq
          (key._1, key._2, Mvt.encodeTile("customers", feats))
        }
      tiles.flatMap { case (tx, ty, bytes) =>
          Mvt.decodeTile(bytes).flatMap { case (_, fs) =>
            fs.map(f => (tx, ty, f.id, f.px, f.py, f.attrs.head._2)) }
        }
        .toDF("tx", "ty", "id", "px", "py", "nk")
        .groupBy(col("tx").cast("long").as("tx"), col("ty").cast("long").as("ty"))
        .agg(count(lit(1)).as("n_feat"),
          sum(col("px")).as("sum_px"), sum(col("py")).as("sum_py"),
          sum(col("id")).as("sum_id"), sum(col("nk")).as("sum_nk"))
        .orderBy(col("tx"), col("ty"))
    },
      // quantization replay: on the half-degree lattice the only rounded op
      // per axis is one division (the *2^15 scaling is an exact exponent
      // shift), so floors agree bit-for-bit with the Spark side
      (PtsCte +
        """
          |, q AS (
          |  SELECT ck, c_nationkey,
          |         floor((x + 180) / 360 * 32768) AS fgx,
          |         floor((90 - y) / 180 * 32768) AS fgy
          |  FROM pts
          |), t AS (
          |  SELECT ck, c_nationkey,
          |         CAST(floor(fgx / 4096) AS BIGINT) AS tx,
          |         CAST(floor(fgy / 4096) AS BIGINT) AS ty,
          |         CAST(fgx - 4096 * floor(fgx / 4096) AS BIGINT) AS px,
          |         CAST(fgy - 4096 * floor(fgy / 4096) AS BIGINT) AS py
          |  FROM q
          |)
          |SELECT tx, ty, count(*)::BIGINT AS n_feat,
          |       CAST(sum(px) AS BIGINT) AS sum_px, CAST(sum(py) AS BIGINT) AS sum_py,
          |       CAST(sum(ck) AS BIGINT) AS sum_id, CAST(sum(c_nationkey) AS BIGINT) AS sum_nk
          |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // MVT LINESTRING bake on the true slippy Web-Mercator pyramid (zoom 2,
    // ty from st.mercatorY): per-nation wandering polylines on a
    // quarter-degree lattice are quantized to global pixels, split into
    // per-tile vertex runs (vertex-partition clip: consecutive same-tile
    // vertices form a sub-line; runs of 1 drop — no edge clipping, as
    // documented), encoded as MoveTo+LineTo command streams with the
    // cursor persisting across parts, then decode-roundtripped and
    // aggregated per tile. Any zigzag/cursor/ClosePath bug breaks the sums.
    // Nation centers stay within ±52°, so no mercator clip is needed and
    // every quantized value is deterministic same-expression-tree float.
    QuerySpec("sp_mvt_lines", (s, dir) => {
      import s.implicits._
      import graft.sources.Mvt
      val z = 2
      val scale = (1 << z) * Mvt.Extent      // 16384 global pixels per axis
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("nk").orderBy("ck")
      val quant = mvtPixels(s, dir, scale)
        .select(col("ck"), col("nk"),
          expr(s"gx DIV ${Mvt.Extent}").as("tx"),
          expr(s"gy DIV ${Mvt.Extent}").as("ty"),
          expr(s"gx % ${Mvt.Extent}").cast("int").as("px"),
          expr(s"gy % ${Mvt.Extent}").cast("int").as("py"))
      val runs = quant
        .withColumn("ptx", lag(col("tx"), 1).over(w))
        .withColumn("pty", lag(col("ty"), 1).over(w))
        .withColumn("brk", when(col("ptx").isNull
          || col("ptx") =!= col("tx") || col("pty") =!= col("ty"), 1L).otherwise(0L))
        .withColumn("run", sum(col("brk")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val parts = runs
        .groupBy(col("nk"), col("run"), col("tx"), col("ty"))
        .agg(count(lit(1)).as("nv"),
          sort_array(collect_list(struct(col("ck"), col("px"), col("py")))).as("vs"))
        .filter(col("nv") >= 2)
        .withColumn("fid", col("nk").cast("long") * 10000L + col("run"))
      val tiles = parts
        .select(col("tx"), col("ty"), col("fid"), col("nk"), col("vs"))
        .as[(Long, Long, Long, Int, Seq[(Long, Int, Int)])]
        .groupByKey(r => (r._1, r._2))
        .mapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long, Int, Seq[(Long, Int, Int)])]) =>
          val feats = it.map(r => Mvt.Feature(r._3, 2,
            Seq(r._5.map(v => (v._2, v._3))), Seq("nk" -> r._4.toLong))).toSeq
          (key._1, key._2, Mvt.encodeTileF("nations", feats))
        }
      val decoded = tiles.flatMap { case (tx, ty, bytes) =>
          Mvt.decodeTileF(bytes).flatMap { case (_, fs) =>
            fs.flatMap(f => f.parts.flatten.map(v =>
              (tx, ty, f.id, v._1, v._2))) }
        }.toDF("tx", "ty", "fid", "px", "py")
      decoded
        .groupBy(col("tx"), col("ty"), col("fid"))
        .agg(count(lit(1)).as("nv"), sum(col("px")).as("spx"), sum(col("py")).as("spy"))
        .groupBy(col("tx"), col("ty"))
        .agg(count(lit(1)).as("n_feat"), sum(col("nv")).as("n_vert"),
          sum(col("spx")).as("sum_px"), sum(col("spy")).as("sum_py"),
          sum(col("fid")).as("sum_id"))
        .orderBy(col("tx"), col("ty"))
    },
      // replays the full lines pipeline: quarter-degree lattice → slippy
      // mercator quantization (identical float expression tree) → per-nation
      // run segmentation (lag + running sum) → >=2-vertex run filter →
      // per-tile feature/vertex/coordinate sums. The Spark side additionally
      // roundtrips through the binary MVT codec; equal sums prove the
      // zigzag-delta cursor stream is lossless.
      MvtVertsCte + """, q AS (
        |  SELECT ck, nk,
        |         CAST(floor((x + 180) / 360 * 16384) AS BIGINT) AS gx,
        |         CAST(floor((1 - ln(tan(pi() / 4 + radians(y) / 2)) * 6378137
        |           / 6378137 / pi()) / 2 * 16384) AS BIGINT) AS gy
        |  FROM v
        |), t AS (
        |  SELECT ck, nk, gx // 4096 AS tx, gy // 4096 AS ty,
        |         gx % 4096 AS px, gy % 4096 AS py
        |  FROM q
        |), r AS (
        |  SELECT ck, nk, tx, ty, px, py,
        |         CASE WHEN lag(tx) OVER w IS DISTINCT FROM tx
        |               OR lag(ty) OVER w IS DISTINCT FROM ty THEN 1 ELSE 0 END AS brk
        |  FROM t WINDOW w AS (PARTITION BY nk ORDER BY ck)
        |), r2 AS (
        |  SELECT ck, nk, tx, ty, px, py,
        |         sum(brk) OVER (PARTITION BY nk ORDER BY ck) AS run
        |  FROM r
        |), f AS (
        |  SELECT nk, run, tx, ty, count(*) AS nv, sum(px) AS spx, sum(py) AS spy,
        |         nk * 10000 + run AS fid
        |  FROM r2 GROUP BY nk, run, tx, ty
        |  HAVING count(*) >= 2
        |)
        |SELECT tx, ty, count(*)::BIGINT AS n_feat, CAST(sum(nv) AS BIGINT) AS n_vert,
        |       CAST(sum(spx) AS BIGINT) AS sum_px, CAST(sum(spy) AS BIGINT) AS sum_py,
        |       CAST(sum(fid) AS BIGINT) AS sum_id
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // MVT POLYGON bake at zoom 0 (the whole world is the one 0/0 tile —
    // the single encode group is inherent to the zoom level, not the plan;
    // deeper zooms group by tile exactly as sp_mvt_lines does): each
    // nation's pixel bbox becomes a 4-corner CW exterior ring encoded with
    // MoveTo+LineTo+ClosePath, and the decode side recovers vertex count,
    // SIGNED shoelace area (proves ring order + implicit closure survived
    // the codec), Manhattan perimeter and coordinate sums.
    QuerySpec("sp_mvt_poly", (s, dir) => {
      import s.implicits._
      import graft.sources.Mvt
      val scale = Mvt.Extent
      val quant = mvtPixels(s, dir, scale)
      val boxes = quant.groupBy(col("nk"))
        .agg(min(col("gx")).as("x0"), max(col("gx")).as("x1"),
          min(col("gy")).as("y0"), max(col("gy")).as("y1"))
        .filter(col("x1") > col("x0") && col("y1") > col("y0"))
      val tile = boxes
        .select(col("nk"), col("x0").cast("int"), col("x1").cast("int"),
          col("y0").cast("int"), col("y1").cast("int"))
        .as[(Int, Int, Int, Int, Int)]
        .groupByKey(_ => 0)
        .mapGroups { (_: Int, it: Iterator[(Int, Int, Int, Int, Int)]) =>
          val feats = it.map { case (nk, x0, x1, y0, y1) =>
            Mvt.Feature(nk.toLong, 3,
              Seq(Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))),
              Seq("nk" -> nk.toLong))
          }.toSeq
          Mvt.encodeTileF("nation_boxes", feats)
        }
      tile.flatMap { bytes =>
          Mvt.decodeTileF(bytes).flatMap { case (_, fs) =>
            fs.map { f =>
              val ring = f.parts.head
              val n = ring.size
              var area2 = 0L; var perim = 0L; var sx = 0L; var sy = 0L
              var i = 0
              while (i < n) {
                val (xa, ya) = ring(i); val (xb, yb) = ring((i + 1) % n)
                area2 += xa.toLong * yb - xb.toLong * ya
                perim += math.abs(xb - xa).toLong + math.abs(yb - ya).toLong
                sx += xa; sy += ya
                i += 1
              }
              (f.id, n.toLong, area2 / 2L, perim, sx, sy)
            } }
        }
        .toDF("nk", "n_vert", "area", "perim", "sum_px", "sum_py")
        .orderBy(col("nk"))
    },
      // replays the polygon bake arithmetic directly on the per-nation pixel
      // bboxes: area/perimeter/coordinate sums of the 4-corner CW ring the
      // Spark side recovers from the decoded ClosePath command stream
      MvtVertsCte + """, q AS (
        |  SELECT ck, nk,
        |         CAST(floor((x + 180) / 360 * 4096) AS BIGINT) AS gx,
        |         CAST(floor((1 - ln(tan(pi() / 4 + radians(y) / 2)) * 6378137
        |           / 6378137 / pi()) / 2 * 4096) AS BIGINT) AS gy
        |  FROM v
        |), b AS (
        |  SELECT nk, min(gx) AS x0, max(gx) AS x1, min(gy) AS y0, max(gy) AS y1
        |  FROM q GROUP BY 1
        |  HAVING max(gx) > min(gx) AND max(gy) > min(gy)
        |)
        |SELECT CAST(nk AS BIGINT) AS nk, 4::BIGINT AS n_vert,
        |       CAST((x1 - x0) * (y1 - y0) AS BIGINT) AS area,
        |       CAST(2 * ((x1 - x0) + (y1 - y0)) AS BIGINT) AS perim,
        |       CAST(2 * (x0 + x1) AS BIGINT) AS sum_px,
        |       CAST(2 * (y0 + y1) AS BIGINT) AS sum_py
        |FROM b ORDER BY nk""".stripMargin),

    // Web-Mercator (EPSG:3857) reprojection — planar meter length of each
    // nation polyline in projected space plus the forward/inverse roundtrip
    // error, entirely HOT-tier Column arithmetic (no UDF: radians/ln/tan/
    // atan/exp all codegen), mirroring the slippy-map CRS the tile pyramid
    // assumes
    QuerySpec("sp_mercator_length", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_nationkey").orderBy("ck")
      pointsDf(s, dir)
        .select(col("ck"), col("c_nationkey"), col("y"),
          st.mercatorX(col("x")).as("mx"), st.mercatorY(col("y")).as("my"))
        .withColumn("px", lag(col("mx"), 1).over(w))
        .withColumn("py", lag(col("my"), 1).over(w))
        .groupBy(col("c_nationkey"))
        .agg(
          round(sum(sqrt((col("mx") - col("px")) * (col("mx") - col("px")) +
            (col("my") - col("py")) * (col("my") - col("py")))) / 1000.0, 2).as("len_km"),
          round(max(abs(col("y") - st.mercatorLat(st.mercatorY(col("y"))))), 9)
            .as("max_rt_err_deg"))
        .orderBy(col("c_nationkey"))
    },
      (PtsCte +
        """
          |, m AS (
          |  SELECT ck, c_nationkey, y,
          |         radians(x) * 6378137 AS mx,
          |         ln(tan(pi() / 4 + radians(y) / 2)) * 6378137 AS my
          |  FROM pts
          |), segs AS (
          |  SELECT c_nationkey, y, mx, my,
          |         lag(mx) OVER w AS px, lag(my) OVER w AS py
          |  FROM m WINDOW w AS (PARTITION BY c_nationkey ORDER BY ck)
          |)
          |SELECT c_nationkey,
          |  round(sum(sqrt((mx - px) * (mx - px) + (my - py) * (my - py))) / 1000, 2) AS len_km,
          |  round(max(abs(y - degrees(2 * atan(exp(my / 6378137)) - pi() / 2))), 9) AS max_rt_err_deg
          |FROM segs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // SimplifyWithDouglasPeucker / Reverse / FilterEqualNorm pipes: tolerance
    // 500 exceeds any chord deviation on the ±180×±90 lattice, so an open
    // line always simplifies to its 2 endpoints; a reversed line normalizes
    // equal to the original
    QuerySpec("sp_simplify_reverse", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          st.numPoints(st.simplify(col("geometry"), lit(500.0))).cast("long").as("n_dp"),
          st.x(st.startPoint(st.reverse(col("geometry")))).as("rev_sx"),
          st.y(st.startPoint(st.reverse(col("geometry")))).as("rev_sy"),
          st.equalsNorm(col("geometry"), st.reverse(col("geometry")), lit(0.0)).as("eq_norm_rev"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey,
          |  CASE WHEN count(*) = 1 THEN 1 ELSE 2 END::BIGINT AS n_dp,
          |  arg_max(x, ck) AS rev_sx, arg_max(y, ck) AS rev_sy,
          |  TRUE AS eq_norm_rev
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // GML/KML writer pipes (GML.java:30-48, KeyholeMarkupLanguage.java:32-55):
    // coordinate-token counts in the emitted markup must equal the row count
    QuerySpec("sp_gml_kml", (s, dir) =>
      linesLayer(s, dir).df
        .select(col("c_nationkey"),
          size(split(regexp_extract(st.asKml(col("geometry")),
            "<coordinates>([^<]*)</coordinates>", 1), " ")).cast("long").as("kml_pts"),
          size(split(regexp_extract(st.asGml(col("geometry")),
            "<gml:coordinates>([^<]*)</gml:coordinates>", 1), " ")).cast("long").as("gml_pts"))
        .orderBy(col("c_nationkey")),
      (PtsCte +
        """
          |SELECT c_nationkey, count(*)::BIGINT AS kml_pts, count(*)::BIGINT AS gml_pts
          |FROM pts GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Boundary-lattice predicate matrix: every remaining filter/processing
    // pipe under one closed-form oracle. Per row: a 1.5×1.5 box
    // B=[x,x+1.5]×[y,y+1.5] (the half-overhang makes PROPER overlap with the
    // aligned rectangle actually occur — a unit box would always be covered
    // or touching), diagonal segment, bowtie (self-intersecting) ring, and a
    // ±400 big box, against R=[0.5,30.5]×[-10.5,40.5] whose boundary passes
    // through lattice coordinates — so touch/overlap/cover/cross outcomes
    // are exact interval arithmetic in DuckDB.
    // (reference: pipes/filtering/FilterTouch.java:29, FilterOverlap.java:29,
    // FilterCross.java:29, FilterCover.java:29, FilterCoveredBy.java:29,
    // FilterDisjoint.java:29, FilterEqualExact.java:30, FilterEqualTopo.java:30,
    // FilterInvalid.java:29, processing/InteriorPoint.java:29,
    // SimplifyPreservingTopology.java:31, ExtractGeometries.java:28,
    // IntersectAll.java:30)
    QuerySpec("sp_predicate_lattice", (s, dir) => {
      val rect = lit(GeomCodec.toWkb(GeomCodec.fromWkt(LatticeRectWkt)))
      val vline = lit(GeomCodec.toWkb(GeomCodec.fromWkt("LINESTRING (10.25 -200, 10.25 200)")))
      val p0 = lit(GeomCodec.toWkb(GeomCodec.point(10.5, 20.5)))
      val xs = col("x").cast("string"); val ys = col("y").cast("string")
      val x1s = (col("x") + 1).cast("string"); val y1s = (col("y") + 1).cast("string")
      val sp = lit(" "); val cm = lit(", ")
      pointsLayer(s, dir).df
        .withColumn("bx", st.makeBox(col("x"), col("y"), col("x") + 1.5, col("y") + 1.5))
        .withColumn("diag", st.makeLine(col("x"), col("y"), col("x") + 1, col("y") + 1))
        .withColumn("bowtie", st.geomFromText(concat(
          lit("POLYGON (("), xs, sp, ys, cm, x1s, sp, y1s, cm,
          x1s, sp, ys, cm, xs, sp, y1s, cm, xs, sp, ys, lit("))"))))
        .withColumn("big", st.makeBox(col("x") - 400, col("y") - 400, col("x") + 400, col("y") + 400))
        .groupBy(col("c_nationkey"))
        .agg(
          count(when(st.touches(col("bx"), rect), 1)).as("n_touch"),
          count(when(st.overlaps(col("bx"), rect), 1)).as("n_overlap"),
          count(when(st.crosses(col("diag"), vline), 1)).as("n_cross"),
          count(when(st.covers(rect, col("bx")), 1)).as("n_cover"),
          count(when(st.coveredBy(col("bx"), rect), 1)).as("n_covby"),
          count(when(st.disjoint(col("geometry"), rect), 1)).as("n_disj"),
          count(when(st.equalsExact(col("geometry"), p0, lit(0.0)), 1)).as("n_eq"),
          count(when(st.equalsTopo(col("geometry"), p0), 1)).as("n_topo"),
          count(when(st.equalsExact(col("diag"), st.reverse(col("diag")), lit(0.0)), 1)).as("n_xrev"),
          count(when(st.equalsTopo(col("diag"), st.reverse(col("diag"))), 1)).as("n_trev"),
          count(when(st.isValid(col("bx")), 1)).as("n_valid"),
          count(when(!st.isValid(col("bowtie")), 1)).as("n_inval"),
          sum((st.x(st.interiorPoint(col("bx"))) - col("x")) * 4).cast("long").as("ip4"),
          count(when(st.numPoints(st.simplifyPreserveTopology(
            st.densify(col("diag"), lit(0.7)), lit(500.0))) === 2, 1)).as("n_tps"),
          sum(size(st.extractGeometries(st.symDifference(col("bx"), rect)))).cast("long").as("symp"),
          SpatialAggs.intersectAgg(col("big")).as("ia"))
        .select(col("c_nationkey"), col("n_touch"), col("n_overlap"), col("n_cross"),
          col("n_cover"), col("n_covby"), col("n_disj"), col("n_eq"), col("n_topo"),
          col("n_xrev"), col("n_trev"), col("n_valid"), col("n_inval"), col("ip4"),
          col("n_tps"), col("symp"), round(st.area(col("ia")), 6).as("ia_area"))
        .orderBy(col("c_nationkey"))
    },
      // Interval arithmetic on the lattice decides every predicate: wx/wy are
      // the (possibly negative) overlap widths of the 1.5-box vs the aligned
      // rectangle; touch ⟺ overlap degenerate, overlap ⟺ positive widths and
      // not covered, symDifference parts = 2 ⟺ strictly disjoint OR proper
      // overlap (JTS merges pure edge/corner touches into one polygon but
      // keeps the two lobes of an overlap separate — pinned by Round3Spec),
      // intersectAll of the ±400 boxes = [max-400, min+400]² closed-form area.
      (PtsCte +
        """
          |, w AS (
          |  SELECT c_nationkey, x, y,
          |         least(x + 1.5, 30.5) - greatest(x, 0.5) AS wx,
          |         least(y + 1.5, 40.5) - greatest(y, -10.5) AS wy,
          |         (x >= 0.5 AND x + 1.5 <= 30.5 AND y >= -10.5 AND y + 1.5 <= 40.5) AS covered
          |  FROM pts
          |)
          |SELECT c_nationkey,
          |  count(*) FILTER (WHERE wx >= 0 AND wy >= 0 AND (wx = 0 OR wy = 0)) AS n_touch,
          |  count(*) FILTER (WHERE wx > 0 AND wy > 0 AND NOT covered) AS n_overlap,
          |  count(*) FILTER (WHERE x = 9.5) AS n_cross,
          |  count(*) FILTER (WHERE covered) AS n_cover,
          |  count(*) FILTER (WHERE covered) AS n_covby,
          |  count(*) FILTER (WHERE NOT (x >= 0.5 AND x <= 30.5 AND y >= -10.5 AND y <= 40.5)) AS n_disj,
          |  count(*) FILTER (WHERE x = 10.5 AND y = 20.5) AS n_eq,
          |  count(*) FILTER (WHERE x = 10.5 AND y = 20.5) AS n_topo,
          |  0::BIGINT AS n_xrev,
          |  count(*) AS n_trev,
          |  count(*) AS n_valid,
          |  count(*) AS n_inval,
          |  CAST(3 * count(*) AS BIGINT) AS ip4,
          |  count(*) AS n_tps,
          |  CAST(sum(CASE WHEN wx < 0 OR wy < 0
          |                  OR (wx > 0 AND wy > 0 AND NOT covered)
          |           THEN 2 ELSE 1 END) AS BIGINT) AS symp,
          |  round((800 - (max(x) - min(x))) * (800 - (max(y) - min(y))), 6) AS ia_area
          |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)),

    // declarative SQL spatial join: plain `JOIN ON st_intersects(...)`
    // (which vanilla Spark plans as a cartesian product) — StJoinRule, which
    // the session's `spark.sql.extensions` registers (graft.Sessions),
    // rewrites it to the grid equi-join; results must equal the oracle's
    // interval containment (plan shape pinned by StJoinRuleSpec)
    QuerySpec("sp_sql_join", (s, dir) => {
      sqlJoinViews(s, dir)
      s.sql("""SELECT p.ck AS id, b.n_nationkey AS nk
              |FROM sqlj_pts p JOIN sqlj_boxes b
              |ON st_intersects(p.geometry, b.geometry)
              |ORDER BY id, nk""".stripMargin)
    },
      (NationBoxesCtes +
        """
          |SELECT ck AS id, n_nationkey AS nk
          |FROM pts, nb
          |WHERE x BETWEEN x0 AND x1 AND y BETWEEN y0 AND y1
          |ORDER BY 1, 2""".stripMargin)),

    // declarative LEFT OUTER spatial join through the same grid rewrite:
    // every point keeps its row, unmatched ones with a null nation key
    // (COALESCEd to -1 on both sides so the sort order is engine-agnostic).
    // The left-preserving rewrite is the reference's tag-then-keep workflow
    // shape (SpatialProcedures.java:679-718) expressed in SQL.
    QuerySpec("sp_sql_left_join", (s, dir) => {
      sqlJoinViews(s, dir)
      s.sql("""SELECT p.ck AS id, coalesce(b.n_nationkey, -1) AS nk
              |FROM sqlj_pts p LEFT JOIN sqlj_boxes b
              |ON st_intersects(p.geometry, b.geometry)
              |ORDER BY id, nk""".stripMargin)
    },
      (NationBoxesCtes +
        """
          |SELECT ck AS id, coalesce(n_nationkey, -1) AS nk
          |FROM pts LEFT JOIN nb
          |ON x BETWEEN x0 AND x1 AND y BETWEEN y0 AND y1
          |ORDER BY 1, 2""".stripMargin)),

    // declarative LEFT SEMI + LEFT ANTI spatial joins (one result: each
    // point labeled in/out) — the spatial anti-join is the removeNodes
    // workflow shape; counts pin both sides of the partition
    QuerySpec("sp_sql_anti_join", (s, dir) => {
      sqlJoinViews(s, dir)
      val semi = s.sql(
        """SELECT p.ck AS id, 1 AS covered FROM sqlj_pts p LEFT SEMI JOIN sqlj_boxes b
          |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
      val anti = s.sql(
        """SELECT p.ck AS id, 0 AS covered FROM sqlj_pts p LEFT ANTI JOIN sqlj_boxes b
          |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
      semi.unionByName(anti).orderBy(col("id"))
    },
      (NationBoxesCtes +
        """
          |SELECT ck AS id,
          |       CASE WHEN EXISTS (SELECT 1 FROM nb
          |                         WHERE x BETWEEN x0 AND x1 AND y BETWEEN y0 AND y1)
          |            THEN 1 ELSE 0 END AS covered
          |FROM pts
          |ORDER BY 1""".stripMargin)),

    // declarative DISTANCE join: `ON st_dwithin(p, b, r)` — the rule dilates
    // the probe side's envelope by r, so the grid plan serves the distance
    // predicate too (a cartesian product in stock Spark). Radius 5.75 keeps
    // the exact point-to-box distance strictly off the threshold on the
    // half-integer lattice (dx, dy are integers ⇒ dx²+dy² ∈ ℤ vs 33.0625)
    QuerySpec("sp_sql_dwithin", (s, dir) => {
      sqlJoinViews(s, dir)
      s.sql("""SELECT p.ck AS id, b.n_nationkey AS nk
              |FROM sqlj_pts p JOIN sqlj_boxes b
              |ON st_dwithin(p.geometry, b.geometry, CAST(5.75 AS DOUBLE))
              |ORDER BY id, nk""".stripMargin)
    },
      // point-to-rectangle distance is closed-form: per-axis overshoot
      // (0 inside the box), then the hypotenuse against the radius
      (NationBoxesCtes +
        """, d AS (
          |  SELECT ck, n_nationkey,
          |         greatest(x0 - x, x - x1, 0) AS dx,
          |         greatest(y0 - y, y - y1, 0) AS dy
          |  FROM pts, nb
          |)
          |SELECT ck AS id, n_nationkey AS nk
          |FROM d WHERE dx * dx + dy * dy <= 5.75 * 5.75
          |ORDER BY 1, 2""".stripMargin)),

    // declarative FULL OUTER spatial join: matched pairs plus BOTH sides'
    // unmatched rows (ck%3 thins the left side and appended far-north
    // boxes thin the right, so both unmatched legs are exercised)
    QuerySpec("sp_sql_full_join", (s, dir) => {
      pointsDf(s, dir).filter(col("ck") % 3 === 0)
        .select(col("ck"), col("geometry"))
        .createOrReplaceTempView("sqlj_pts3")
      natBoxGeoms(s, dir)
        .unionByName(T(s, dir, "nation").select(
          (col("n_nationkey") + 100).as("n_nationkey"),
          st.geomFromText(concat(lit("POLYGON (("),
            col("n_nationkey") * 2 - lit(50), lit(" 85, "),
            col("n_nationkey") * 2 - lit(48), lit(" 85, "),
            col("n_nationkey") * 2 - lit(48), lit(" 89, "),
            col("n_nationkey") * 2 - lit(50), lit(" 89, "),
            col("n_nationkey") * 2 - lit(50), lit(" 85))"))).as("geometry")))
        .createOrReplaceTempView("sqlj_boxes_f")
      s.sql("""SELECT coalesce(p.ck, -1) AS id, coalesce(b.n_nationkey, -1) AS nk
              |FROM sqlj_pts3 p FULL JOIN sqlj_boxes_f b
              |ON st_intersects(p.geometry, b.geometry)
              |ORDER BY id, nk""".stripMargin)
    },
      (PtsCte +
        """
          |, p3 AS (SELECT * FROM pts WHERE ck % 3 = 0)
          |, nb AS (
          |""".stripMargin + NationBoxRows + """
          |  UNION ALL
          |  SELECT n_nationkey + 100,
          |         n_nationkey * 2 - 50, n_nationkey * 2 - 48,
          |         85, 89
          |  FROM nation
          |)
          |SELECT coalesce(ck, -1) AS id, coalesce(n_nationkey, -1) AS nk
          |FROM p3 FULL JOIN nb
          |ON x BETWEEN x0 AND x1 AND y BETWEEN y0 AND y1
          |ORDER BY 1, 2""".stripMargin)),

    // zonal statistics: per 3° grid cell, overlapping-polygon count +
    // clipped JTS area over the nation boxes — half-integer box corners vs
    // integer cell edges keep every product a binary-exact quarter, so the
    // real shoelace area equals the oracle's interval arithmetic exactly
    QuerySpec("sp_zonal_stats", (s, dir) => {
      val polys = natBoxesDf(s, dir)
        .withColumn("geometry", st.geomFromText(col("wkt")))
        .withColumn("bbox", st.bboxOf(col("geometry")))
      SpatialAggs.zonalStats(polys, cellDeg = 3.0)
        .orderBy(col("cell_x"), col("cell_y"))
    },
      """WITH nb AS (
        |  SELECT n_nationkey AS id,
        |         n_nationkey * 3 - 39.5 AS x0, n_nationkey * 3 - 34.5 AS x1,
        |         n_nationkey * 2 - 29.5 AS y0, n_nationkey * 2 - 25.5 AS y1
        |  FROM nation
        |), cx AS (
        |  SELECT id, x0, x1, y0, y1,
        |         unnest(range(CAST(floor((x0 + 180) / 3) AS BIGINT),
        |                      CAST(floor((x1 + 180) / 3) AS BIGINT) + 1)) AS cell_x
        |  FROM nb
        |), cells AS (
        |  SELECT id, x0, x1, y0, y1, cell_x,
        |         unnest(range(CAST(floor((y0 + 90) / 3) AS BIGINT),
        |                      CAST(floor((y1 + 90) / 3) AS BIGINT) + 1)) AS cell_y
        |  FROM cx
        |), clipped AS (
        |  SELECT cell_x, cell_y,
        |         (least(x1, -180 + 3 * (cell_x + 1)) - greatest(x0, -180 + 3 * cell_x))
        |       * (least(y1, -90 + 3 * (cell_y + 1)) - greatest(y0, -90 + 3 * cell_y)) AS area
        |  FROM cells
        |)
        |SELECT cell_x, cell_y, count(*) AS n_polys, sum(area) AS area
        |FROM clipped WHERE area > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // heatmap tile aggregation over the point layer: ONE partial-aggregated
    // shuffle to per-cell counts + decimal-exact value mass, TakeOrdered
    // top-20 tiles
    QuerySpec("sp_grid_heat", (s, dir) =>
      SpatialAggs.gridHeatmap(pointsDf(s, dir), "c_acctbal", cellDeg = 15.0)
        .orderBy(col("n_points").desc, col("cell_x"), col("cell_y"))
        .limit(20),
      (PtsCte +
        """
          |SELECT CAST(floor((x + 180.0) / 15.0) AS BIGINT) AS cell_x,
          |       CAST(floor((y + 90.0) / 15.0) AS BIGINT) AS cell_y,
          |       count(*) AS n_points,
          |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
          |FROM pts GROUP BY 1, 2
          |ORDER BY n_points DESC, cell_x, cell_y LIMIT 20""".stripMargin)),

    // tile pyramid (5°→15°→45°): each coarser level rolls up FROM the finer
    // AGGREGATE, never from base rows — at 100 TB the base scan happens once
    // and every later exchange is tile-count-sized. Value mass stays decimal
    // through every level (double only at the output), so rollup order
    // can't perturb the sums. Nested 3× levels ⟹ coarse cell = fine div 3.
    QuerySpec("sp_tile_pyramid", (s, dir) => {
      val fine = pointsDf(s, dir).groupBy(
          floor((col("x") + 180.0) / 5.0).cast("long").as("cell_x"),
          floor((col("y") + 90.0) / 5.0).cast("long").as("cell_y"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal").cast("decimal(18,2)")).as("s"))
      def up(df: DataFrame) = df.groupBy(
          expr("cell_x div 3").as("cell_x"), expr("cell_y div 3").as("cell_y"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      val mid = up(fine); val coarse = up(mid)
      Seq((fine, 5.0), (mid, 15.0), (coarse, 45.0))
        .map { case (df, deg) => df.select(lit(deg).as("cell_deg"),
          col("cell_x"), col("cell_y"), col("n").as("n_points"),
          col("s").cast("double").as("sum_val")) }
        .reduce(_ unionByName _)
        .orderBy(col("cell_deg"), col("cell_x"), col("cell_y"))
    },
      (PtsCte +
        """
          |, fine AS (
          |  SELECT CAST(floor((x + 180.0) / 5.0) AS BIGINT) AS cell_x,
          |         CAST(floor((y + 90.0) / 5.0) AS BIGINT) AS cell_y,
          |         count(*) AS n, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s
          |  FROM pts GROUP BY 1, 2
          |), mid AS (
          |  SELECT cell_x // 3 AS cell_x, cell_y // 3 AS cell_y,
          |         CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
          |  FROM fine GROUP BY 1, 2
          |), coarse AS (
          |  SELECT cell_x // 3 AS cell_x, cell_y // 3 AS cell_y,
          |         CAST(sum(n) AS BIGINT) AS n, sum(s) AS s
          |  FROM mid GROUP BY 1, 2
          |)
          |SELECT cell_deg, cell_x, cell_y, n AS n_points, CAST(s AS DOUBLE) AS sum_val
          |FROM (
          |  SELECT CAST(5.0 AS DOUBLE) AS cell_deg, * FROM fine
          |  UNION ALL SELECT CAST(15.0 AS DOUBLE), * FROM mid
          |  UNION ALL SELECT CAST(45.0 AS DOUBLE), * FROM coarse
          |)
          |ORDER BY cell_deg, cell_x, cell_y""".stripMargin))
  )
}
