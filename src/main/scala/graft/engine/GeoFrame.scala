package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import graft.functions.st
import graft.geom.{GeomCodec, Orthodromic}

/** The DataFrame-native layer surface: every GeoPipeline verb of the
  * reference as one declarative transformation, so Catalyst can push the
  * cheap bbox conjuncts into the parquet scan and whole-stage-codegen the
  * rest (SURVEY §2.3, §4).
  *
  * Pattern for every topology search (reference: GeoPipeline.java:197-263):
  * bbox window prune (cheap, pushdown-able min/max comparisons on the bbox
  * struct — the R-tree traversal's role) → exact JTS predicate (UDF).
  */
class GeoFrame(val df: DataFrame, val meta: Option[LayerMeta] = None) {

  private def geom = col("geometry")

  /** A frame derived from this one keeps the layer meta but not the
    * recorded extent: that describes the layer as opened, and sizing a
    * filtered (possibly empty) frame's k-NN window from it would cost extra
    * doubling rounds where one aggregate does.
    */
  private[graft] def lift(d: DataFrame) =
    new GeoFrame(d, meta.map(_.copy(extent = None)))

  def count(): Long = df.count()

  /** Layer bounding box — `spatial.getLayerBoundingBox`
    * (reference: SpatialProcedures.java:598; RTree root envelope
    * RTreeIndex.java:739-741).
    */
  def boundingBox(): DataFrame =
    df.agg(
      min(col("bbox")("minx")).as("minx"), min(col("bbox")("miny")).as("miny"),
      max(col("bbox")("maxx")).as("maxx"), max(col("bbox")("maxy")).as("maxy"))

  // ------------------------------------------------------------- searches

  /** `spatial.bbox` — deliberately WITHIN semantics, not intersects: the
    * reference uses startWithinSearch (quirk documented at
    * SpatialProcedures.java:822-836).
    */
  def bboxSearch(minx: Double, miny: Double, maxx: Double, maxy: Double): GeoFrame = {
    val env = GeomCodec.factory.toGeometry(
      new org.locationtech.jts.geom.Envelope(minx, maxx, miny, maxy))
    lift(df.filter(
      st.bboxIntersects(col("bbox"), minx, miny, maxx, maxy) &&
      graft.functions.STPredicate.column("within", geom, env)))
  }

  /** Window intersect search with the INCLUDE_ALL fast path: a bbox fully
    * inside the rectangular window skips the exact JTS test entirely
    * (reference: SearchIntersectWindow.java:57-77) — here the containment
    * disjunct short-circuits before the UDF in codegen.
    */
  def intersectsWindow(minx: Double, miny: Double, maxx: Double, maxy: Double): GeoFrame = {
    val env = GeomCodec.factory.toGeometry(
      new org.locationtech.jts.geom.Envelope(minx, maxx, miny, maxy))
    lift(df.filter(
      st.bboxContainedBy(col("bbox"), minx, miny, maxx, maxy) ||
      (st.bboxIntersects(col("bbox"), minx, miny, maxx, maxy) &&
        graft.functions.STPredicate.column("intersects", geom, env))))
  }

  /** Window search via the stored space-filling-curve key: the window
    * becomes a set of 1-D `__sfc` ranges (the reference's
    * getTilesIntersectingEnvelope → range scans,
    * LayerSpaceFillingCurvePointIndex.java:110-124) pushed into the parquet
    * scan, where the curve-sorted layout's row-group min/max stats skip
    * everything outside the ranges; the exact window filter still applies
    * after, so results are identical to [[intersectsWindow]]. Requires a
    * hilbert-clustered layer (SpatialLayout.writeClustered keeps `__sfc`).
    * Stronger than bbox-stat pruning on fragmented windows: a curve range is
    * contiguous on disk even when the window cuts across many bbox strides.
    */
  def windowViaCurve(minx: Double, miny: Double, maxx: Double, maxy: Double): GeoFrame = {
    require(df.columns.contains("__sfc"),
      "layer has no stored __sfc key — write it with a curve indexType (hilbert/zorder/geohash)")
    val idx = meta.map(_.indexType).getOrElse("hilbert")
    val rangePred = idx match {
      case "hilbert" =>
        graft.plans.SpatialLayout.hilbertRangesForWindow(minx, miny, maxx, maxy)
          .map { case (lo, hi) => col("__sfc").between(lo, hi) }
          .reduceOption(_ || _).getOrElse(lit(false))
      case "zorder" =>
        graft.plans.SpatialLayout.zorderRangesForWindow(minx, miny, maxx, maxy)
          .map { case (lo, hi) => col("__sfc").between(lo, hi) }
          .reduceOption(_ || _).getOrElse(lit(false))
      case "geohash" =>
        // prefix predicates push to parquet as StringStartsWith over the
        // sorted string key (reference: LayerGeohashPointIndex.java:86-107)
        graft.plans.SpatialLayout.geohashPrefixesForWindow(minx, miny, maxx, maxy)
          .map(p => col("__sfc").startsWith(p))
          .reduceOption(_ || _).getOrElse(lit(false))
      case other =>
        throw new IllegalArgumentException(
          s"windowViaCurve requires a curve layout (hilbert/zorder/geohash), layer has $other")
    }
    // bucketed layouts (SpatialLayout.writeClusteredBuckets) also carry the
    // directory-partition key __bucket = __sfc >> BucketShift; the same
    // curve ranges shifted down become PartitionFilters, so whole bucket
    // directories outside the window are never even listed
    val pred =
      if (df.columns.contains("__bucket") && (idx == "hilbert" || idx == "zorder")) {
        // the shift MUST be the write-time value ([[LayerMeta.bucketShift]],
        // recorded by the layout sidecar / catalog) — a guessed shift makes
        // the partition filter prune directories the window touches
        val shift = meta.map(_.bucketShift)
          .getOrElse(graft.plans.SpatialLayout.BucketShift)
        val ranges = idx match {
          case "hilbert" => graft.plans.SpatialLayout.hilbertRangesForWindow(minx, miny, maxx, maxy)
          case _ => graft.plans.SpatialLayout.zorderRangesForWindow(minx, miny, maxx, maxy)
        }
        val bucketPred = ranges
          .map { case (lo, hi) => col("__bucket").between((lo >> shift).toInt, (hi >> shift).toInt) }
          .reduceOption(_ || _).getOrElse(lit(false))
        rangePred && bucketPred
      } else rangePred
    lift(df.filter(pred)).intersectsWindow(minx, miny, maxx, maxy)
  }

  /** bbox window prune (pushdown-able column comparisons) → exact JTS
    * predicate as a native expression caching the prepared query geometry
    * per task ([[graft.functions.STPredicate]]).
    */
  private def pruneThenExact(query: Geometry, predicate: String): GeoFrame = {
    val e = query.getEnvelopeInternal
    lift(df.filter(
      st.bboxIntersects(col("bbox"), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY) &&
      graft.functions.STPredicate.column(predicate, geom, query)))
  }

  /** `spatial.intersects` (reference: SpatialProcedures.java:901 →
    * GeoPipeline.startIntersectSearch:241). */
  def intersects(query: Geometry): GeoFrame = pruneThenExact(query, "intersects")
  def intersects(wkt: String): GeoFrame = intersects(GeomCodec.fromWkt(wkt))

  /** startWithinSearch (reference: GeoPipeline.java:263). */
  def within(query: Geometry): GeoFrame = pruneThenExact(query, "within")
  /** startContainSearch (reference: GeoPipeline.java:204). */
  def containing(query: Geometry): GeoFrame = pruneThenExact(query, "contains")
  /** startCoverSearch (reference: GeoPipeline.java:211). */
  def covering(query: Geometry): GeoFrame = pruneThenExact(query, "covers")
  /** startCoveredBySearch (reference: GeoPipeline.java:218). */
  def coveredBy(query: Geometry): GeoFrame = pruneThenExact(query, "coveredby")
  /** startCrossSearch (reference: GeoPipeline.java:225). */
  def crossing(query: Geometry): GeoFrame = pruneThenExact(query, "crosses")
  /** startOverlapSearch (reference: GeoPipeline.java:249). */
  def overlapping(query: Geometry): GeoFrame = pruneThenExact(query, "overlaps")
  /** startTouchSearch (reference: GeoPipeline.java:256). */
  def touching(query: Geometry): GeoFrame = pruneThenExact(query, "touches")
  /** SearchEqualEnvelopes — rows whose envelope EQUALS the query's envelope
    * exactly (reference: rtree/filter/SearchEqualEnvelopes.java:28-38); pure
    * column equality on the bbox struct, no JTS call needed.
    */
  def equalEnvelopes(query: Geometry): GeoFrame = {
    val e = query.getEnvelopeInternal
    lift(df.filter(
      col("bbox")("minx") === e.getMinX && col("bbox")("maxx") === e.getMaxX &&
      col("bbox")("miny") === e.getMinY && col("bbox")("maxy") === e.getMaxY))
  }

  /** startEqualExactSearch (reference: GeoPipeline.java:232). */
  def equalExact(query: Geometry, tolerance: Double): GeoFrame = {
    val e = query.getEnvelopeInternal
    lift(df.filter(
      st.bboxIntersects(col("bbox"), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY) &&
      st.equalsExact(geom, lit(GeomCodec.toWkb(query)), lit(tolerance))))
  }

  /** `spatial.withinDistance` — degree-window prune (cos(lat)-compensated,
    * reference: OrthodromicDistance.suggestSearchWindow:74-90) → exact
    * orthodromic distance → filter → ascending sort
    * (reference: SpatialProcedures.java:864-880, GeoPipeline.java:304-311).
    * Adds column `distance` (km).
    *
    * Jobs: two per call under adaptive execution (the pruned scan into a
    * one-partition exchange, then the sort), one layer scan. The sort runs
    * in one partition (`sortedInOnePartition`), so no range-sampling job
    * scans the layer a second time. The result stays lazy.
    */
  def withinDistanceKm(lon: Double, lat: Double, km: Double): GeoFrame = {
    val w = Orthodromic.searchWindow(lon, lat, km)
    val pruned = df.filter(
      st.bboxIntersectsWrapped(col("bbox"), w.getMinX, w.getMinY, w.getMaxX, w.getMaxY))
    lift(sortedInOnePartition(
      withDistance(pruned, lon, lat).filter(col("distance") <= km), col("distance")))
  }

  /** A total ascending order on `key` without a global sort: one
    * single-partition exchange, then a local sort. A global `orderBy` would
    * first run a range-sampling job over its input, which for a pruned
    * lookup rescans the layer. The reference sorts these results in one
    * in-memory pass too (GeoPipeline.java:304-311), so the single sorting
    * task scales no worse than it does; the scan before it stays parallel.
    */
  private def sortedInOnePartition(d: DataFrame, key: Column): DataFrame =
    d.repartition(1).sortWithinPartitions(key)

  /** Side (degrees) of a square window expected to hold about
    * `expectedRows` rows (reference window estimate:
    * SpatialTopologyUtils.java:200-238). Taken from the layer's recorded
    * extent and count when the frame carries them (no job), else from one
    * extent/count aggregate; None when the aggregate finds the frame empty.
    * The estimate assumes the layer's average density, so a caller that
    * needs its window to be enough on the first try asks for more rows than
    * it keeps. A recorded extent may be stale: it only sizes a window, so
    * callers must not read correctness into it.
    */
  private def densityWindowSide(expectedRows: Long): Option[Double] =
    meta.flatMap(_.extent).orElse(LayerExtent.of(df)).map { e =>
      val area = math.max((e.maxx - e.minx) * (e.maxy - e.miny), 1e-12)
      math.max(1e-6, math.sqrt(math.max(expectedRows, 1L) * area / math.max(e.count, 1L)))
    }

  /** Orthodromic distance (km) from (lon, lat) as column `distance`: pure
    * column arithmetic on point layers, the geometry UDF otherwise. */
  private def withDistance(d: DataFrame, lon: Double, lat: Double): DataFrame =
    if (d.columns.contains("x"))
      d.withColumn("distance", st.orthodromicKm(lit(lon), lit(lat), col("x"), col("y")))
    else d.withColumn("distance", st.orthodromicDistanceKm(geom, lon, lat))

  /** k-NN `findClosestPointsTo` — density-estimated window sized for ~2k
    * candidates, then exact distance sort + take(k)
    * (reference: SimplePointLayer.java:61-77, LIMIT_RESULTS=100 at :34).
    * The limit becomes a TakeOrdered physical op — no global sort
    * materialization. Approximate like the reference: rows outside the
    * window are never considered ([[knnCandidates]] is the exact verb).
    */
  def closestPoints(lon: Double, lat: Double, k: Int = 100): GeoFrame =
    densityWindowSide(2L * k) match {
      case None => lift(df.limit(0).withColumn("distance", lit(0.0)))
      case Some(side) =>
        val half = side / 2
        val cand = df.filter(
          st.bboxIntersects(col("bbox"), lon - half, lat - half, lon + half, lat + half))
        lift(withDistance(cand, lon, lat).orderBy(col("distance")).limit(k))
    }

  /** PROVABLY-exact k-NN candidate set with window pruning: grow a
    * density-estimated degree window (×2 per round) until the k-th candidate
    * distance plus `slackKm` fits inside a proven lower bound on the
    * distance to anything outside the window
    * ([[Orthodromic.minDistanceOutsideWindowKm]]) — from then on the pruned
    * scan contains every row a FULL scan's top-k could select, including
    * under any ordering on a rounding of distance coarser than `slackKm`
    * (monotone rounding keeps the k-th rank; the slack absorbs round-ties at
    * the boundary). This is the plan that survives 100×: the full-scan top-k
    * only rides on TakeOrdered, while this also prunes the scan itself.
    *
    * Jobs: one per verification round (a bbox-pruned scan into a 2k-row
    * TakeOrdered with every column, collected), typically a single round:
    * the first window is sized for 16k rows at the layer's average density,
    * which hot spots and sparse regions alike usually fill. The first
    * window comes from the recorded extent and count of a catalog layer, so
    * no whole-layer job runs; other frames pay one extent/count aggregate.
    *
    * Result: when the round that verifies also holds every candidate — fewer
    * than 2k rows came back, or the last collected distance exceeds the
    * k-th plus `slackKm` — the collected rows come back as a local frame,
    * and the caller's top-k reads no file. Otherwise (more than k rows tied
    * within the slack of the k-th) the result is the lazy window scan, as
    * it is when the window grows past 40 rounds.
    */
  def knnCandidates(lon: Double, lat: Double, k: Int, slackKm: Double = 0.001,
      initialSide: Double = 0.0): GeoFrame = {
    // `initialSide` > 0 skips the size estimate. It matters only for frames
    // that do not come from the catalog (the sp_knn query, BenchScale):
    // those would otherwise pay the extent/count aggregate. The estimate
    // only affects how many doubling rounds run, never correctness (the
    // verification bound does that), so a rough caller hint is safe.
    require(k >= 1, s"k must be >= 1 (got $k)")
    var side = if (initialSide > 0) initialSide else densityWindowSide(16L * k) match {
      case Some(s) => s
      case None => return lift(df.limit(0).withColumn("distance", lit(0.0)))
    }
    var result: Option[DataFrame] = None
    var iters = 0
    while (result.isEmpty) {
      val half = side / 2
      // the candidate interval must be an interval of longitude MOD 360:
      // near the antimeridian a stored x just across ±180 is geodesically
      // inside the window though its raw coordinate is far outside, and the
      // outside-window bound below assumes Δλ is the wrapped difference —
      // without these extra disjuncts a true neighbor could be pruned while
      // verification still passes
      val rawWindow =
        st.bboxIntersects(col("bbox"), lon - half, lat - half, lon + half, lat + half)
      val wraps = Seq(
        if (lon + half > 180)
          Some(st.bboxIntersects(col("bbox"), -180.0, lat - half, lon + half - 360, lat + half))
        else None,
        if (lon - half < -180)
          Some(st.bboxIntersects(col("bbox"), lon - half + 360, lat - half, 180.0, lat + half))
        else None).flatten
      val withDist = withDistance(df.filter(wraps.foldLeft(rawWindow)(_ || _)), lon, lat)
      iters += 1
      if (iters >= 40) {
        // side has doubled past any earthly extent — the window holds
        // everything, trivially a superset (covers the total-rows < k case)
        result = Some(withDist)
      } else {
        // a top-level TakeOrdered collect: one job; the bound is checked on
        // row k-1 (nulls sort first, so a null there fails it)
        val top = withDist.orderBy(col("distance")).limit(2 * k).collect()
        val d = withDist.schema.fieldIndex("distance")
        if (top.length >= k && !top(k - 1).isNullAt(d) &&
            top(k - 1).getDouble(d) + slackKm <=
              Orthodromic.minDistanceOutsideWindowKm(lon, lat, half)) {
          // rows past the collected ones are at least as far as the last
          // one: if that is beyond the k-th plus the slack, none of them
          // can enter a top-k, and the collected rows are the whole answer
          val complete = top.length < 2 * k ||
            top.last.getDouble(d) > top(k - 1).getDouble(d) + slackKm
          result = Some(if (complete)
            df.sparkSession.createDataFrame(java.util.Arrays.asList(top: _*), withDist.schema)
          else withDist)
        } else side *= 2
      }
    }
    lift(result.get)
  }

  /** `spatial.closest` — snap query point to nearest point/edge of each
    * geometry within maxDistance (degrees), sorted by snap distance
    * (reference: SpatialProcedures.java:850-862 →
    * SpatialTopologyUtils.findClosestEdges:95-140).
    * Jobs: two per call, one layer scan, as in [[withinDistanceKm]].
    */
  def closestEdges(lon: Double, lat: Double, maxDistance: Double): GeoFrame = {
    val pt = GeomCodec.point(lon, lat)
    val pruned = df.filter(st.bboxIntersects(col("bbox"),
      lon - maxDistance, lat - maxDistance, lon + maxDistance, lat + maxDistance))
    lift(sortedInOnePartition(pruned
      .withColumn("snapped", st.closestPointTo(geom, lon, lat))
      .withColumn("snap_distance", st.distance(col("snapped"), lit(GeomCodec.toWkb(pt))))
      .filter(col("snap_distance") <= maxDistance), col("snap_distance")))
  }

  // ------------------------------------------------ property/CQL filtering

  /** FilterProperty / FilterCQL — Spark SQL expression strings are a strict
    * superset of the reference's ECQL surface (reference:
    * pipes/filtering/FilterProperty.java:29-49, FilterCQL.java:35-51).
    */
  def filterExpr(sqlExpr: String): GeoFrame = lift(df.filter(expr(sqlExpr)))

  /** FilterCQL with a true ECQL front-end: the reference's stored ECQL
    * strings (SearchCQL.java:27-60, DynamicLayer.java:106-137) run
    * verbatim; spatial predicates carry their bbox-prune conjunct so the
    * envelope reaches the scan like `needsToVisit` pruned the tree walk.
    */
  def filterEcql(ecql: String): GeoFrame =
    lift(df.filter(graft.functions.Ecql.toColumn(ecql, df.columns.toSet)))

  /** The reference's stored dynamic-layer query surface: a string starting
    * with `{` is the JSON graph-step form (DynamicIndexReader.java:46-113),
    * anything else is CQL (DynamicLayer.java:153-181) with the Spark SQL
    * superset fallback.
    */
  def filterDynamic(query: String): GeoFrame = {
    val top = df.columns.toSet
    if (graft.functions.DynamicLayerJson.isJsonQuery(query))
      lift(df.filter(graft.functions.DynamicLayerJson.toColumn(query, top)))
    else if (graft.functions.Ecql.parses(query, top)) filterEcql(query)
    else filterExpr(query)
  }

  /** Dynamic layer = named filtered view with pushed-down predicate
    * (reference: DynamicLayer.java:56-217, CQLIndexReader.java:54).
    */
  def asDynamicLayer(viewName: String, sqlExpr: String): GeoFrame = {
    val v = df.filter(expr(sqlExpr))
    v.createOrReplaceTempView(viewName)
    lift(v)
  }

  // --------------------------------------------------------- geometry ops

  def withArea: GeoFrame = lift(df.withColumn("area", st.area(geom)))
  def withLength: GeoFrame = lift(df.withColumn("length", st.length(geom)))
  def withOrthodromicLength: GeoFrame =
    lift(df.withColumn("length_km", st.orthodromicLengthKm(geom)))
  def withCentroid: GeoFrame = lift(df.withColumn("geometry", st.centroid(geom)))
  def withBuffer(d: Double): GeoFrame = lift(df.withColumn("geometry", st.buffer(geom, lit(d))))
  def withConvexHull: GeoFrame = lift(df.withColumn("geometry", st.convexHull(geom)))
  def withEnvelope: GeoFrame = lift(df.withColumn("geometry", st.envelope(geom)))
  def withBoundary: GeoFrame = lift(df.withColumn("geometry", st.boundary(geom)))
  def withInteriorPoint: GeoFrame = lift(df.withColumn("geometry", st.interiorPoint(geom)))
  def withStartPoint: GeoFrame = lift(df.withColumn("geometry", st.startPoint(geom)))
  def withEndPoint: GeoFrame = lift(df.withColumn("geometry", st.endPoint(geom)))
  def withSimplify(tol: Double): GeoFrame = lift(df.withColumn("geometry", st.simplify(geom, lit(tol))))
  def withDensify(tol: Double): GeoFrame = lift(df.withColumn("geometry", st.densify(geom, lit(tol))))
  def withWkt: GeoFrame = lift(df.withColumn("wkt", st.asText(geom)))
  def withGeoJson: GeoFrame = lift(df.withColumn("geojson", st.asGeoJson(geom)))
  def withGml: GeoFrame = lift(df.withColumn("gml", st.asGml(geom)))
  def withKml: GeoFrame = lift(df.withColumn("kml", st.asKml(geom)))

  // ------------------------------------------------------------ generators

  /** ExtractPoints: one row per coordinate, ids suffixed `-pointN` like the
    * reference's cloned flows (reference: ExtractPoints.java:29-45).
    */
  def extractPoints: GeoFrame = lift(
    df.select(col("*"), posexplode(st.extractPoints(geom)).as(Seq("pos", "pt")))
      .withColumn("id", concat(col("id"), lit("-point"), col("pos")))
      .withColumn("geometry", col("pt")).drop("pos", "pt"))

  /** ExtractGeometries (reference: ExtractGeometries.java:28). */
  def extractGeometries: GeoFrame = lift(
    df.select(col("*"), posexplode(st.extractGeometries(geom)).as(Seq("pos", "g")))
      .withColumn("id", concat(col("id"), lit("-geom"), col("pos")))
      .withColumn("geometry", col("g")).drop("pos", "g"))

  // ----------------------------------------------------------- aggregates

  /** UnionAll fold (reference: pipes/processing/UnionAll.java:30-40). */
  def unionAll(): DataFrame = df.agg(SpatialAggs.unionAgg(geom).as("geometry"))

  /** IntersectAll fold (reference: pipes/processing/IntersectAll.java:30-40). */
  def intersectAll(): DataFrame = df.agg(SpatialAggs.intersectAgg(geom).as("geometry"))

  /** Min/Max keep-ALL-ties semantics, null rows dropped
    * (reference: pipes/processing/Min.java:30-72, Max.java:30-72).
    */
  def minOf(property: String): GeoFrame = minMax(property, isMin = true)
  def maxOf(property: String): GeoFrame = minMax(property, isMin = false)

  private def minMax(property: String, isMin: Boolean): GeoFrame = {
    // broadcast the 1-row extremum instead of a single-partition window —
    // keeps the scan fully parallel at scale
    val nonNull = df.filter(col(property).isNotNull)
    val ext = nonNull.agg(
      (if (isMin) min(col(property)) else max(col(property))).as("__ext"))
    lift(nonNull.crossJoin(broadcast(ext))
      .filter(col(property) === col("__ext")).drop("__ext"))
  }

  /** Grouped Min/Max keep-ties: the reference's Min/Max pipe applied per
    * group (e.g. per nation). A partitioned window max — one shuffle on the
    * group keys, no broadcast needed, scales with group cardinality.
    */
  def minOfGrouped(property: String, groupCols: String*): GeoFrame =
    minMaxGrouped(property, isMin = true, groupCols)
  def maxOfGrouped(property: String, groupCols: String*): GeoFrame =
    minMaxGrouped(property, isMin = false, groupCols)

  private def minMaxGrouped(property: String, isMin: Boolean, groupCols: Seq[String]): GeoFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols.map(col): _*)
    val ext = (if (isMin) min(col(property)) else max(col(property))).over(w)
    lift(df.filter(col(property).isNotNull)
      .withColumn("__ext", ext).filter(col(property) === col("__ext")).drop("__ext"))
  }

  /** Greedy single-link clustering (reference: DensityIslands.java:26-49).
    * Exact mode: single-partition greedy fold reproducing the reference's
    * order-dependent semantics (for parity tests). For scale, prefer
    * [[SpatialAggs.densityIslandsScalable]] — grid-bucketed union-find whose
    * island memberships are order-independent.
    */
  def densityIslands(density: Double): DataFrame =
    SpatialAggs.densityIslandsExact(df, density)

  /** Distributed spatial join against another layer — strategy picked by
    * right-side size (broadcast vs PBSM grid), see [[SpatialJoin.join]].
    * Column names come back prefixed l_/r_ (inner/outer; semi/anti return
    * the plain left schema). `joinType`: inner | left_outer | left_semi |
    * left_anti — the left-preserving types run in one pass, nothing
    * materializes.
    */
  def spatialJoin(other: GeoFrame, predicate: String = "intersects",
      cellSize: Double = 0.0, joinType: String = "inner"): DataFrame =
    SpatialJoin.join(df, other.df, predicate, cellSize, joinType)

  /** Sort pipe: nulls first, like the reference (Sort.java:44-52). */
  def sortBy(property: String, asc: Boolean = true): GeoFrame =
    lift(df.orderBy(if (asc) col(property).asc_nulls_first else col(property).desc_nulls_last))

  /** RangeFilterPipe positional slice (reference: RangeFilterPipe.java:32-69). */
  def range(low: Int, high: Int): GeoFrame =
    lift(df.limit(high + 1).offset(low))
}

object GeoFrame {

  /** Open a curve-clustered layer written by [[graft.plans.SpatialLayout]]
    * directly from its path, taking indexType AND bucketShift from the
    * layout sidecar the writer stamped — so [[GeoFrame.windowViaCurve]]
    * always prunes with the write-time parameters, by construction — and
    * reading with the schema it records, so opening runs no job. Layers
    * predating the sidecar fall back to the given defaults, and sidecars
    * without a schema to an inferred one.
    */
  def openClustered(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String = "layer", gtype: Int = 0,
      encoder: String = "point-xy"): GeoFrame = {
    val layout = graft.plans.SpatialLayout.readLayoutMeta(spark, path)
    val meta = LayerMeta(name, gtype, encoder = encoder,
      indexType = layout.map(_.indexType).getOrElse("hilbert"),
      bucketShift = layout.map(_.bucketShift).filter(_ >= 0)
        .getOrElse(graft.plans.SpatialLayout.BucketShift))
    new GeoFrame(graft.plans.SpatialLayout.readClustered(spark, path, layout), Some(meta))
  }
}
