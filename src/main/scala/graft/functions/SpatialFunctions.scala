package graft.functions

import org.apache.spark.sql.SparkSession
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}
import org.locationtech.jts.densify.Densifier

import graft.geom.{GeomCodec, GeoOutput, Orthodromic}

/** SQL-name registry for the spatial function surface, so `spark.sql(...)`
  * queries and dynamic-layer view definitions (SURVEY §2.1 `spatial.cql`)
  * can reference `ST_*` by name. Mirrors the reference's function surface
  * (reference: server-plugin/.../functions/SpatialFunctions.java:46-104).
  */
object SpatialFunctions {

  /** Registers every function on `spark`; returns at once when the session
    * already holds them (`st_reverse` is registered last), so a second call
    * replaces nothing. [[graft.Sessions.local]] calls it on every session it
    * builds.
    */
  def register(spark: SparkSession): Unit = {
    if (spark.catalog.functionExists("st_reverse")) return
    val r = spark.udf

    def dec(wkb: Array[Byte]): Geometry = GeomCodec.fromWkb(wkb)

    r.register("st_geomfromtext", (s: String) => GeomCodec.toWkb(GeomCodec.fromWkt(s)))
    r.register("st_astext", (b: Array[Byte]) => GeomCodec.toWkt(dec(b)))
    r.register("st_asgeojson", (b: Array[Byte]) => GeoOutput.toGeoJson(dec(b)))
    r.register("st_asgml", (b: Array[Byte]) => GeoOutput.toGml(dec(b)))
    r.register("st_askml", (b: Array[Byte]) => GeoOutput.toKml(dec(b)))
    r.register("st_point", (x: Double, y: Double) => GeomCodec.toWkb(GeomCodec.point(x, y)))

    r.register("st_area", (b: Array[Byte]) => dec(b).getArea)
    r.register("st_length", (b: Array[Byte]) => dec(b).getLength)
    r.register("st_dimension", (b: Array[Byte]) => dec(b).getDimension)
    r.register("st_geometrytype", (b: Array[Byte]) => dec(b).getGeometryType)
    r.register("st_numpoints", (b: Array[Byte]) => dec(b).getNumPoints)
    r.register("st_numgeometries", (b: Array[Byte]) => dec(b).getNumGeometries)
    r.register("st_isempty", (b: Array[Byte]) => dec(b).isEmpty)
    r.register("st_isvalid", (b: Array[Byte]) => dec(b).isValid)
    r.register("st_x", (b: Array[Byte]) => dec(b).getCoordinate.x)
    r.register("st_y", (b: Array[Byte]) => dec(b).getCoordinate.y)

    r.register("st_centroid", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).getCentroid))
    r.register("st_interiorpoint", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).getInteriorPoint))
    r.register("st_envelope", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).getEnvelope))
    r.register("st_boundary", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).getBoundary))
    r.register("st_convexhull", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).convexHull))
    r.register("st_buffer", (b: Array[Byte], d: Double) => GeomCodec.toWkb(dec(b).buffer(d)))
    r.register("st_simplify", (b: Array[Byte], t: Double) => GeomCodec.toWkb(DouglasPeuckerSimplifier.simplify(dec(b), t)))
    r.register("st_simplifypreservetopology", (b: Array[Byte], t: Double) => GeomCodec.toWkb(TopologyPreservingSimplifier.simplify(dec(b), t)))
    r.register("st_densify", (b: Array[Byte], t: Double) => GeomCodec.toWkb(Densifier.densify(dec(b), t)))

    r.register("st_union", (a: Array[Byte], b: Array[Byte]) => GeomCodec.toWkb(dec(a).union(dec(b))))
    r.register("st_intersection", (a: Array[Byte], b: Array[Byte]) => GeomCodec.toWkb(dec(a).intersection(dec(b))))
    r.register("st_difference", (a: Array[Byte], b: Array[Byte]) => GeomCodec.toWkb(dec(a).difference(dec(b))))
    r.register("st_symdifference", (a: Array[Byte], b: Array[Byte]) => GeomCodec.toWkb(dec(a).symDifference(dec(b))))
    r.register("st_distance", (a: Array[Byte], b: Array[Byte]) => dec(a).distance(dec(b)))

    r.register("st_intersects", (a: Array[Byte], b: Array[Byte]) => dec(a).intersects(dec(b)))
    r.register("st_contains", (a: Array[Byte], b: Array[Byte]) => dec(a).contains(dec(b)))
    r.register("st_within", (a: Array[Byte], b: Array[Byte]) => dec(a).within(dec(b)))
    r.register("st_covers", (a: Array[Byte], b: Array[Byte]) => dec(a).covers(dec(b)))
    r.register("st_coveredby", (a: Array[Byte], b: Array[Byte]) => dec(a).coveredBy(dec(b)))
    r.register("st_crosses", (a: Array[Byte], b: Array[Byte]) => dec(a).crosses(dec(b)))
    r.register("st_overlaps", (a: Array[Byte], b: Array[Byte]) => dec(a).overlaps(dec(b)))
    r.register("st_touches", (a: Array[Byte], b: Array[Byte]) => dec(a).touches(dec(b)))
    r.register("st_disjoint", (a: Array[Byte], b: Array[Byte]) => dec(a).disjoint(dec(b)))
    r.register("st_equals", (a: Array[Byte], b: Array[Byte]) => dec(a).equals(dec(b)))
    r.register("st_relate", (a: Array[Byte], b: Array[Byte]) => dec(a).relate(dec(b)).toString)
    r.register("st_relatepattern", (a: Array[Byte], b: Array[Byte], p: String) => dec(a).relate(dec(b), p))
    r.register("st_dwithin", (a: Array[Byte], b: Array[Byte], d: Double) => dec(a).isWithinDistance(dec(b), d))

    r.register("st_orthodromic_km",
      (lon1: Double, lat1: Double, lon2: Double, lat2: Double) => Orthodromic.distanceKm(lon1, lat1, lon2, lat2))

    r.register("st_pointz", (x: Double, y: Double, z: Double) => GeomCodec.toWkb(GeomCodec.point(x, y, z)))
    r.register("st_z", (b: Array[Byte]) => dec(b).getCoordinate.z)
    r.register("st_makebox", (x0: Double, y0: Double, x1: Double, y1: Double) =>
      GeomCodec.toWkb(GeomCodec.factory.toGeometry(
        new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1))))
    r.register("st_makeline", (x1: Double, y1: Double, x2: Double, y2: Double) =>
      GeomCodec.toWkb(GeomCodec.factory.createLineString(Array(
        new org.locationtech.jts.geom.Coordinate(x1, y1),
        new org.locationtech.jts.geom.Coordinate(x2, y2)))))
    r.register("st_reverse", (b: Array[Byte]) => GeomCodec.toWkb(dec(b).reverse))
  }
}
