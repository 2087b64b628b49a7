package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Everything a run feeds the engine is derived
  * here from the workload seed, in the benchmark process, with no engine code: the
  * same seed gives byte-identical inputs, another seed different ones.
  * Coordinates are rounded to 1e-5 degrees so that query windows can be
  * snapped exactly onto stored points (the WITHIN vs INTERSECTS boundary).
  */
object Gen {

  final case class Points(ids: Array[String], xs: Array[Double], ys: Array[Double]) {
    def size: Int = ids.length
  }
  final case class Polys(ids: Array[String], wkts: Array[String])
  final case class Edges(src: Array[Long], dst: Array[Long])
  /** A Gaussian hot spot: centre and standard deviation in degrees. */
  final case class Spot(x: Double, y: Double, sigma: Double)

  def round5(v: Double): Double = math.rint(v * 1e5) / 1e5

  /** Independent stream per purpose, so resizing one input never shifts another. */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL)

  /** 64 hot spots on an 8×8 lattice (lon ±140°, lat ±50°), each moved by up
    * to 3° and given a spread of 0.6–1.6°. The seed moves the spots, the
    * lattice keeps every seed's inputs statistically alike, so a seed
    * changes the data but not the workload.
    */
  def spots(r: SplittableRandom): Array[Spot] =
    Array.tabulate(64) { i =>
      Spot(-140 + 40 * (i % 8) + r.nextDouble(-3, 3), -50 + 100.0 / 7 * (i / 8) + r.nextDouble(-3, 3),
        0.6 + (i % 5) * 0.25 + r.nextDouble(-0.05, 0.05))
    }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the splittable stream (java.util.Random is not used
    // anywhere, so the sequence depends on the seed alone)
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def clampX(x: Double) = math.max(-179.9, math.min(179.9, x))
  private def clampY(y: Double) = math.max(-84.9, math.min(84.9, y))

  /** A location: on a hot spot with probability `hot`, else uniform. */
  def location(r: SplittableRandom, sp: Array[Spot], hot: Double): (Double, Double) =
    if (r.nextDouble() < hot) {
      val s = sp(r.nextInt(sp.length))
      (clampX(s.x + gauss(r) * s.sigma), clampY(s.y + gauss(r) * s.sigma))
    } else (r.nextDouble(-179.9, 179.9), r.nextDouble(-84.9, 84.9))

  /** `n` points, 70% in the hot spots and 30% uniform, ids `<prefix><n>`
    * zero-padded so string order equals numeric order.
    */
  def points(r: SplittableRandom, sp: Array[Spot], n: Int, prefix: String,
      first: Int = 0): Points = {
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (x, y) = location(r, sp, 0.7)
      xs(i) = round5(x); ys(i) = round5(y); i += 1
    }
    Points(Array.tabulate(n)(i => f"$prefix${first + i}%08d"), xs, ys)
  }

  /** A star-shaped simple polygon: `nv` vertices at jittered, strictly
    * increasing angles and radii in [r/2, r], so it is always valid.
    */
  def polygonWkt(r: SplittableRandom, cx: Double, cy: Double, radius: Double, nv: Int): String = {
    val step = 2 * math.Pi / nv
    val pts = (0 until nv).map { i =>
      val a = i * step + r.nextDouble(0, 0.4 * step)
      val rad = radius * r.nextDouble(0.5, 1.0)
      (round5(clampX(cx + rad * math.cos(a))), round5(clampY(cy + rad * math.sin(a))))
    }
    (pts :+ pts.head).map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
  }

  /** `n` small polygons (8–32 vertices) placed like the points. */
  def polys(r: SplittableRandom, sp: Array[Spot], n: Int, prefix: String,
      minR: Double, maxR: Double): Polys = {
    val wkts = Array.fill(n) {
      val (cx, cy) = location(r, sp, 0.7)
      polygonWkt(r, cx, cy, r.nextDouble(minR, maxR), 8 + r.nextInt(25))
    }
    Polys(Array.tabulate(n)(i => f"$prefix$i%08d"), wkts)
  }

  /** A directed power-law graph without self loops or duplicate edges:
    * sources uniform, destinations skewed towards low node ids.
    */
  def graph(r: SplittableRandom, nodes: Int, edges: Int): Edges = {
    val seen = new java.util.HashSet[java.lang.Long]()
    val src = new Array[Long](edges); val dst = new Array[Long](edges)
    var i = 0
    while (i < edges) {
      val s = r.nextInt(nodes).toLong
      val d = math.min(nodes - 1, (nodes * math.pow(r.nextDouble(), 2.2)).toLong)
      if (s != d && seen.add(s * nodes + d)) { src(i) = s; dst(i) = d; i += 1 }
    }
    Edges(src, dst)
  }

  /** Symmetric closure (both directions, distinct) of a directed edge list. */
  def symmetric(e: Edges): Edges = {
    val set = new java.util.LinkedHashSet[(Long, Long)]()
    e.src.indices.foreach { i => set.add((e.src(i), e.dst(i))); set.add((e.dst(i), e.src(i))) }
    val arr = set.toArray(new Array[(Long, Long)](0))
    Edges(arr.map(_._1), arr.map(_._2))
  }

  /** Stable fingerprint of generated inputs (self-check: same seed, same inputs). */
  def fingerprint(parts: Seq[Any]): Long = {
    var h = 1125899906842597L
    def mix(v: Long): Unit = h = 31 * h + v
    parts.foreach {
      case p: Points => p.ids.indices.foreach { i =>
        mix(p.ids(i).hashCode); mix(java.lang.Double.doubleToLongBits(p.xs(i)))
        mix(java.lang.Double.doubleToLongBits(p.ys(i))) }
      case p: Polys => p.wkts.foreach(w => mix(w.hashCode))
      case e: Edges => e.src.indices.foreach { i => mix(e.src(i)); mix(e.dst(i)) }
      case other => mix(other.hashCode)
    }
    h
  }
}
