package perfbench

import scala.collection.mutable

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory}
import org.locationtech.jts.io.WKTReader

/** Expected answers, computed in the benchmark process from the generated
  * inputs with no engine code path: plain arrays, a uniform grid, JTS called
  * directly, and textbook loops for the graph jobs. A run compares every operation's
  * output against these.
  */
object Oracle {

  val EarthRadiusKm = 6371.0

  /** The reference's orthodromic distance in km (spherical law of cosines,
    * OrthodromicDistance.calculateDistance), written out in the same
    * operation order so equal inputs give bit-equal distances.
    */
  def distanceKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    math.acos(math.min(
      math.sin(math.toRadians(lat1)) * math.sin(math.toRadians(lat2)) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.cos(math.toRadians(lon2) - math.toRadians(lon1)),
      1.0)) * EarthRadiusKm

  private val Cell = 1.0
  private def cx(x: Double): Int = math.floor((x + 180) / Cell).toInt
  private def cy(y: Double): Int = math.floor((y + 90) / Cell).toInt
  private def key(i: Int, j: Int): Long = i.toLong << 32 | (j & 0xffffffffL)

  /** Points that change over time (the churn layer's model): id → (x, y, v)
    * plus a 1° grid of ids for window queries.
    */
  final class LivePoints {
    val rows = mutable.HashMap.empty[String, (Double, Double, Long)]
    private val grid = mutable.HashMap.empty[Long, mutable.HashSet[String]]

    def put(id: String, x: Double, y: Double, v: Long): Unit = {
      remove(id)
      rows(id) = (x, y, v)
      grid.getOrElseUpdate(key(cx(x), cy(y)), mutable.HashSet.empty) += id
    }
    def remove(id: String): Boolean = rows.remove(id) match {
      case Some((x, y, _)) => grid.get(key(cx(x), cy(y))).foreach(_ -= id); true
      case None => false
    }
    /** Rows whose point lies in the closed window (INTERSECTS semantics). */
    def window(minx: Double, miny: Double, maxx: Double, maxy: Double): Map[String, (Double, Double, Long)] = {
      val out = Map.newBuilder[String, (Double, Double, Long)]
      for (i <- cx(minx) to cx(maxx); j <- cy(miny) to cy(maxy); ids <- grid.get(key(i, j)); id <- ids) {
        val r = rows(id)
        if (r._1 >= minx && r._1 <= maxx && r._2 >= miny && r._2 <= maxy) out += id -> r
      }
      out.result()
    }
  }

  /** The static point layer: arrays and a 1° grid of indices. */
  final class StaticPoints(val p: Gen.Points) {
    private val grid: Map[Long, Array[Int]] = p.xs.indices
      .groupBy(i => key(cx(p.xs(i)), cy(p.ys(i)))).map { case (k, v) => k -> v.toArray }

    private def cells(minx: Double, miny: Double, maxx: Double, maxy: Double): Iterator[Int] =
      (for (i <- cx(minx) to cx(maxx); j <- cy(miny) to cy(maxy)) yield key(i, j))
        .iterator.flatMap(k => grid.getOrElse(k, Array.emptyIntArray).iterator)

    /** Coordinates of a stored point in the grid cell of (x, y), if any. */
    def near(x: Double, y: Double): Option[(Double, Double)] =
      grid.get(key(cx(x), cy(y))).map(a => (p.xs(a(0)), p.ys(a(0))))

    /** Ids in the closed window: `spatial.intersects` / curve-window semantics. */
    def intersectsWindow(minx: Double, miny: Double, maxx: Double, maxy: Double): Set[String] =
      cells(minx, miny, maxx, maxy).filter { i =>
        p.xs(i) >= minx && p.xs(i) <= maxx && p.ys(i) >= miny && p.ys(i) <= maxy
      }.map(p.ids).toSet

    /** Ids strictly inside the window: `spatial.bbox` is a WITHIN search, and
      * a point on the window's boundary is not within it.
      */
    def withinWindow(minx: Double, miny: Double, maxx: Double, maxy: Double): Set[String] =
      cells(minx, miny, maxx, maxy).filter { i =>
        p.xs(i) > minx && p.xs(i) < maxx && p.ys(i) > miny && p.ys(i) < maxy
      }.map(p.ids).toSet

    /** id → distance for every point within `km` of (lon, lat). */
    def withinDistance(lon: Double, lat: Double, km: Double): Map[String, Double] = {
      val dLat = math.toDegrees(km / EarthRadiusKm) * 1.01 + 1e-6
      val top = math.abs(lat) + dLat
      val dLon = if (top >= 89) 360.0 else math.min(360.0, dLat / math.cos(math.toRadians(top)) * 1.01)
      val idx =
        if (lon - dLon < -180 || lon + dLon > 180) cells(-180, lat - dLat, 180, lat + dLat)
        else cells(lon - dLon, lat - dLat, lon + dLon, lat + dLat)
      idx.map(i => (i, distanceKm(lon, lat, p.xs(i), p.ys(i))))
        .filter(_._2 <= km).map { case (i, d) => p.ids(i) -> d }.toMap
    }

    /** The k nearest points, ties broken by id: a full scan. */
    def nearest(lon: Double, lat: Double, k: Int): Seq[(String, Double)] = {
      val best = mutable.ArrayBuffer.empty[(String, Double)]
      def before(a: (String, Double), b: (String, Double)) =
        a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)
      var i = 0
      while (i < p.size) {
        val c = (p.ids(i), distanceKm(lon, lat, p.xs(i), p.ys(i)))
        if (best.size < k || before(c, best.last)) {
          var at = best.indexWhere(b => before(c, b))
          if (at < 0) at = best.size
          best.insert(at, c)
          if (best.size > k) best.remove(k)
        }
        i += 1
      }
      best.toSeq
    }
  }

  /** Polygons parsed by JTS itself, with a 1° grid over their envelopes. */
  final class PolyIndex(val polys: Gen.Polys) {
    private val reader = new WKTReader()
    val geoms: Array[Geometry] = polys.wkts.map(w => reader.read(w))
    private val grid: Map[Long, Array[Int]] = {
      val m = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
      geoms.indices.foreach { i =>
        val e = geoms(i).getEnvelopeInternal
        for (a <- cx(e.getMinX) to cx(e.getMaxX); b <- cy(e.getMinY) to cy(e.getMaxY))
          m.getOrElseUpdate(key(a, b), mutable.ArrayBuffer.empty) += i
      }
      m.map { case (k, v) => k -> v.toArray }.toMap
    }
    private def candidates(e: Envelope): Set[Int] =
      (for (a <- cx(e.getMinX) to cx(e.getMaxX); b <- cy(e.getMinY) to cy(e.getMaxY);
            i <- grid.getOrElse(key(a, b), Array.emptyIntArray)) yield i).toSet

    /** Ids of the polygons that intersect `q`. */
    def intersecting(q: Geometry): Set[String] = {
      val e = q.getEnvelopeInternal
      candidates(e).filter(i => geoms(i).getEnvelopeInternal.intersects(e) && geoms(i).intersects(q))
        .map(polys.ids)
    }

    /** polygon id → number of points that intersect it (only non-zero counts). */
    def pointCounts(pts: Gen.Points): Map[String, Long] = {
      val gf = new GeometryFactory()
      val counts = mutable.HashMap.empty[String, Long]
      pts.xs.indices.foreach { i =>
        val x = pts.xs(i); val y = pts.ys(i)
        lazy val pt = gf.createPoint(new Coordinate(x, y))
        grid.getOrElse(key(cx(x), cy(y)), Array.emptyIntArray).foreach { j =>
          if (geoms(j).getEnvelopeInternal.intersects(x, y) && geoms(j).intersects(pt))
            counts(polys.ids(j)) = counts.getOrElse(polys.ids(j), 0L) + 1
        }
      }
      counts.toMap
    }
  }

  /** Spark's `round(x, 12)` on a double: HALF_UP on the shortest decimal form. */
  def round12(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Power iteration over the directed edges, each round rounded to 12
    * decimals like the engine's loop: node → rank.
    */
  def pageRank(e: Gen.Edges, iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    val nodes = (e.src ++ e.dst).distinct.sorted
    val n = nodes.length
    val at = nodes.zipWithIndex.toMap
    val deg = new Array[Long](n)
    e.src.foreach(s => deg(at(s)) += 1)
    val si = e.src.map(at); val di = e.dst.map(at)
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iters) {
      val s = new Array[Double](n)
      si.indices.foreach(k => s(di(k)) += rank(si(k)) / deg(si(k)))
      rank = Array.tabulate(n)(i => round12((1.0 - damping) / n + damping * s(i)))
    }
    nodes.indices.map(i => nodes(i) -> rank(i)).toMap
  }

  /** `rounds` peeling rounds over a symmetric edge list: keep the edges whose
    * both ends have degree ≥ k, then node → surviving degree.
    */
  def kcore(e: Gen.Edges, k: Int, rounds: Int): Map[Long, Long] = {
    var edges = e.src.indices.map(i => (e.src(i), e.dst(i))).distinct
    for (_ <- 1 to rounds) {
      val deg = edges.groupBy(_._1).map { case (s, v) => s -> v.size }
      edges = edges.filter { case (s, d) => deg.getOrElse(s, 0) >= k && deg.getOrElse(d, 0) >= k }
    }
    edges.groupBy(_._1).map { case (s, v) => s -> v.size.toLong }
  }
}
