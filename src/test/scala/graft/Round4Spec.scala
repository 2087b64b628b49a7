package graft

import org.apache.spark.sql.functions._

import graft.engine.GeoFrame
import graft.functions.st
import graft.geom.Orthodromic

/** Round-4 fixes: k-NN exactness across the antimeridian and the analytic
  * outside-window distance bound.
  */
class Round4Spec extends SparkSpec {
  import spark.implicits._

  test("minDistanceOutsideWindowKm lower-bounds every outside point (analytic, wrapped Δλ)") {
    val rnd = new scala.util.Random(4042)
    for (_ <- 1 to 2000) {
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 170 - 85
      val half = 0.01 + rnd.nextDouble() * 40
      val bound = Orthodromic.minDistanceOutsideWindowKm(lon, lat, half)
      // sample a point OUTSIDE the window in wrapped-Δλ/Δlat terms
      val dLat = (half + rnd.nextDouble() * 60) * (if (rnd.nextBoolean()) 1 else -1)
      val dLon = (half + rnd.nextDouble() * (360 - 2 * half)) * (if (rnd.nextBoolean()) 1 else -1)
      val latOut = math.max(-90, math.min(90, lat + dLat))
      var lonOut = lon + dLon
      if (lonOut > 180) lonOut -= 360
      if (lonOut < -180) lonOut += 360
      val viaLat = Orthodromic.distanceKm(lon, lat, lon, latOut)   // |Δlat| ≥ half arm
      val latIn = math.max(-90, math.min(90, lat + (rnd.nextDouble() * 2 - 1) * half))
      val viaLon = Orthodromic.distanceKm(lon, lat, lonOut, latIn)
      assert(viaLat >= bound, s"lat arm violated: d=$viaLat bound=$bound at ($lon,$lat) half=$half")
      assert(viaLon >= bound, s"lon arm violated: d=$viaLon bound=$bound at ($lon,$lat) half=$half")
    }
  }

  test("BboxConjunctRule does not inject for derived geometries") {
    import java.nio.file.Files
    import graft.geom.GeomCodec
    val dir = Files.createTempDirectory("bboxrule-derived").toString
    (1 to 100).map { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      (i.toString, GeomCodec.toWkb(GeomCodec.point(x, y)), x, y)
    }.toDF("id", "geometry", "x", "y")
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val rectG = GeomCodec.fromWkt("POLYGON ((0.5 0.5, 10.5 0.5, 10.5 3.5, 0.5 3.5, 0.5 0.5))")
    val rect = GeomCodec.toWkb(rectG)

    // buffered geometry reaches OUTSIDE the row bbox: rows whose point sits
    // just outside the rect still intersect after buffering — an injected
    // bbox-vs-envelope conjunct would wrongly prune them
    val viaBuffer = pts.filter(st.intersects(st.buffer(col("geometry"), lit(1.0)), lit(rect)))
    val plan = viaBuffer.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("minx"), s"conjunct wrongly injected for derived geometry:\n$plan")
    val expected = (1 to 100).filter { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      GeomCodec.point(x, y).buffer(1.0).intersects(rectG)
    }.map(_.toString).toSet
    assert(viaBuffer.select("id").as[String].collect().toSet == expected)

    // sanity: the plain-attribute form still gets the conjunct
    val viaAttr = pts.filter(st.intersects(col("geometry"), lit(rect)))
    assert(viaAttr.queryExecution.optimizedPlan.toString().contains("minx"))
  }

  test("ngramJaccardPairs recall matches brute force on a mixed corpus") {
    import graft.pipeline.Dedup
    // mixed corpus: exact dups, char-level near-dups (word-minhash-hostile:
    // different word boundaries, same character stream), unrelated docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "thequick brownfox jumpsover thelazy dog"),     // same chars, words differ
      (4L, "the quick brown fox jumped over the lazy dogs"),
      (5L, "completely unrelated content about spark engines"),
      (6L, "spark engines and completely unrelated content about"),
      (7L, "xyzzy"), (8L, "qq")                            // shorter than n ⇒ empty gram set
    ).toDF("doc_id", "text")
    val n = 3; val t = 0.5
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t, n = n)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over all pairs with the same gram definition
    def gramSet(s: String): Set[String] = {
      val norm = s.toLowerCase.replaceAll("\\s+", " ")
      if (norm.length < n) Set.empty
      else (0 to norm.length - n).map(i => norm.substring(i, i + n)).toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys; if a < b
      sa = gramSet(texts(a)); sb = gramSet(texts(b))
      if sa.nonEmpty && sb.nonEmpty
      if sa.intersect(sb).size.toDouble / sa.union(sb).size >= t
    } yield (a, b)).toSet
    assert(got == brute, s"got $got expected $brute")
    assert(brute.exists(p => p._1 == 3L || p._2 == 3L),
      "fixture broken: the word-boundary near-dup must qualify (it is the case word-level candidates miss)")
  }

  test("minhash pairs: zero-token documents never pair (matches the oracle's empty-list arm)") {
    import graft.pipeline.Dedup
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, ""), (4L, "   "), (5L, "\t \n")).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("knnCandidates is exact across the antimeridian") {
    // cluster on BOTH sides of ±180: the true nearest neighbors of a query
    // at lon 179.8 include points at lon -179.9 (wrapped Δλ = 0.3°), which a
    // raw-longitude window prune would exclude
    val pts = (0 until 40).map { i =>
      val lon = if (i % 2 == 0) 179.0 + (i % 10) * 0.1 else -179.9 + (i % 10) * 0.1
      (i.toLong, lon, 10.0 + (i / 10) * 0.05)
    } ++ (0 until 200).map { i =>          // far-away decoys pull the density
      (1000L + i, -30.0 + i * 0.3, 10.0 + (i % 7) * 0.4)   // estimate DOWN so
    }                                       // the first window is small
    val df = pts.toDF("k", "x", "y")
      .withColumn("id", col("k").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val layer = new GeoFrame(df)
    val k = 10
    val viaPruned = layer.knnCandidates(179.8, 10.0, k)
      .df.orderBy(col("distance"), col("id")).limit(k)
      .select("id").as[String].collect().toSeq
    val full = df
      .withColumn("distance", st.orthodromicKm(lit(179.8), lit(10.0), col("x"), col("y")))
      .orderBy(col("distance"), col("id")).limit(k)
      .select("id").as[String].collect().toSeq
    assert(viaPruned == full, s"pruned k-NN $viaPruned != full-scan k-NN $full")
    // sanity: the true top-k really does span the antimeridian
    val wrapped = full.count(id => pts.exists(p => p._1.toString == id && p._2 < 0))
    assert(wrapped > 0, "fixture broken: no wrapped neighbor in the true top-k")
  }

  test("predicate verbs match driver-side JTS on a random geometry soup") {
    // differential parity beyond the lattice fixtures: every pruneThenExact
    // verb (bbox prune && prepared-geometry exact predicate) must agree with
    // plain JTS row.op(query) on seeded random points/boxes/linestrings
    import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry}
    import graft.geom.GeomCodec
    val gf = GeomCodec.factory
    val rnd = new scala.util.Random(20260812)
    def rndGeom(i: Int): Geometry = (i % 3) match {
      case 0 =>
        gf.createPoint(new Coordinate(rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10))
      case 1 =>
        val x = rnd.nextDouble() * 17 - 10; val y = rnd.nextDouble() * 17 - 10
        gf.toGeometry(new Envelope(x, x + 0.2 + rnd.nextDouble() * 3, y, y + 0.2 + rnd.nextDouble() * 3))
      case _ =>
        gf.createLineString(Array.fill(3)(
          new Coordinate(rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10)))
    }
    val geoms = (0 until 150).map(i => i.toString -> rndGeom(i))
    val df = geoms.map { case (id, g) => (id, GeomCodec.toWkb(g)) }.toDF("id", "geometry")
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
    val layer = new GeoFrame(df)

    val queries: Seq[Geometry] = Seq(
      gf.toGeometry(new Envelope(-3.0, 4.0, -2.0, 5.0)),            // mid box
      geoms(7)._2,                                                   // a soup member (self-equality arm)
      gf.createLineString(Array(new Coordinate(-9, -9), new Coordinate(9, 9))), // diagonal (crosses arm)
      gf.createPoint(geoms(4)._2.getCoordinate))                     // exact member point
    val checks: Seq[(String, Geometry => GeoFrame, (Geometry, Geometry) => Boolean)] = Seq(
      ("intersects", q => layer.intersects(q), (g, q) => g.intersects(q)),
      ("within", q => layer.within(q), (g, q) => g.within(q)),
      ("contains", q => layer.containing(q), (g, q) => g.contains(q)),
      ("covers", q => layer.covering(q), (g, q) => g.covers(q)),
      ("coveredBy", q => layer.coveredBy(q), (g, q) => g.coveredBy(q)),
      ("crosses", q => layer.crossing(q), (g, q) => g.crosses(q)),
      ("overlaps", q => layer.overlapping(q), (g, q) => g.overlaps(q)),
      ("touches", q => layer.touching(q), (g, q) => g.touches(q)))
    var nonEmpty = 0
    for (q <- queries; (name, verb, p) <- checks) {
      val got = verb(q).df.select("id").as[String].collect().toSet
      val want = geoms.collect { case (id, g) if p(g, q) => id }.toSet
      assert(got == want,
        s"$name mismatch vs JTS for query ${q.getGeometryType}: got ${got.size}, want ${want.size}")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 10, s"fixture too vacuous: only $nonEmpty non-empty verb results")
  }

  test("partition-based ngram candidates: exact recall at t=0.9 vs brute force") {
    import graft.pipeline.Dedup
    // near-dup clusters right at the threshold boundary plus unrelated docs;
    // includes a cross-size pair (one doc ~10% longer) to exercise the
    // guest-group arm of the pigeonhole ladder
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire"
    val docs = Seq(
      (1L, base),
      (2L, base),                                       // exact dup
      (3L, base + " x"),                                // tiny char edit
      (4L, base + " and extra trailing words here"),    // ~10% longer (cross group)
      (5L, base.replace("quick", "quik")),              // small internal edit
      (6L, "completely different content about spark engines and shuffles"),
      (7L, "spark engines and shuffles in completely different content order"),
      (8L, "zz")
    ).toDF("doc_id", "text")
    val n = 3; val t = 0.9
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t, n = n)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def gramSet(s: String): Set[String] = {
      val norm = s.toLowerCase.replaceAll("\\s+", " ")
      if (norm.length < n) Set.empty
      else (0 to norm.length - n).map(i => norm.substring(i, i + n)).toSet
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys; if a < b
      sa = gramSet(texts(a)); sb = gramSet(texts(b))
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= t
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    assert(got == brute, s"got $got want $brute")
  }

  test("partition candidates beat prefix filtering on a self-similar corpus") {
    import graft.pipeline.Dedup
    // worst case for candidate generation: 400 docs drawn from ONE 30-word
    // vocabulary, so char-gram sets overlap heavily (random-pair gram
    // Jaccard ~0.7 vs t=0.9) and ANY exact-recall scheme passes many pairs.
    // The contract: identical-bucket pigeonholing must stay well below both
    // all-pairs and the prefix filter's candidate count, with exact recall.
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "window", "spark", "order",
      "data", "column", "join", "line", "sort", "the", "a", "filter", "group",
      "shuffle", "stage", "task", "core", "disk", "net")
    def text(id: Int): String = {
      var x = id * 2654435761L
      (0 until 40).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        vocab((math.abs(x >>> 33) % vocab.length).toInt)
      }.mkString(" ")
    }
    val rows = (0 until 400).map(i => (i.toLong, text(i))) ++
      Seq((1000L, text(7)), (1001L, text(7) + " x"))     // two planted near-dups of doc 7
    val docs = rows.toDF("doc_id", "text")
    val grams = docs.select(col("doc_id").as("id"),
      Dedup.charNgrams(col("text"), 3).as("ss"))
    val allPairs = 402L * 401 / 2
    val nPart = Dedup.partitionBucketCandidates(grams, 0.9).count()
    val nPrefix = Dedup.shingleJaccardCandidates(grams, 0.9).count()
    assert(nPart < allPairs / 8, s"partition candidates ~all-pairs: $nPart")
    assert(nPart < nPrefix / 2,
      s"partition ($nPart) should beat prefix ($nPrefix) on self-similar text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9, 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 1000L)) && pairs.contains((1000L, 1001L)),
      s"planted near-dups missing from $pairs")
  }

  test("STPredicate generates code (no interpreted fallback) and matches interpreted eval") {
    // codegen.fallback=false turns any generated-code compilation failure
    // into a hard error instead of a silent interpreted retry
    withConf("spark.sql.codegen.fallback" -> "false") {
      val poly = graft.geom.GeomCodec.fromWkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
      val pts = (0 until 100).map(i => (i.toLong, i % 20 - 5, i % 15 - 3))
        .toDF("id", "px", "py")
        .withColumn("geometry", st.makePoint(col("px").cast("double"), col("py").cast("double")))
      val viaCodegen = pts.filter(
          graft.functions.STPredicate.column("within", col("geometry"), poly))
        .select("id").as[Long].collect().toSet
      val viaDriver = pts.select("id", "px", "py").collect()
        .filter(r => { val (x, y) = (r.getInt(1), r.getInt(2))
          x > 0 && x < 10 && y > 0 && y < 10 ||
            (x >= 0 && x <= 10 && y >= 0 && y <= 10 &&
              graft.geom.GeomCodec.factory.createPoint(
                new org.locationtech.jts.geom.Coordinate(x, y)).within(poly)) })
        .map(_.getLong(0)).toSet
      assert(viaCodegen == viaDriver)
      assert(viaCodegen.nonEmpty)
    }
  }
}
