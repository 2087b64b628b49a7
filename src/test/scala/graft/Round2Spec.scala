package graft

import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry

import graft.engine.{GeoFrame, SpatialAggs, SpatialJoin}
import graft.functions.st
import graft.geom.{GeomCodec, GeoOutput}
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Round-2 coverage: ADVICE.md fixes (grid-join fan-out cap, non-point
  * density islands, simhash banding recall, shapefile multipolygon holes)
  * and the new oracle-expressible operators.
  */
class Round2Spec extends SparkSpec {
  import spark.implicits._

  // --------------------------------------------------------- GeoJSON parser

  test("GeoJSON roundtrips every geometry type incl. holes and collections") {
    val wkts = Seq(
      "POINT (3 4)",
      "LINESTRING (0 0, 1 1, 2 0)",
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "MULTIPOINT ((1 1), (2 2))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
      "MULTIPOLYGON (((0 0, 5 0, 5 5, 0 5, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1)), ((10 10, 11 10, 11 11, 10 10)))",
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))")
    wkts.foreach { w =>
      val g = GeomCodec.fromWkt(w)
      val back = GeoOutput.fromGeoJson(GeoOutput.toGeoJson(g))
      assert(back.equalsExact(g), s"roundtrip failed for $w: ${GeomCodec.toWkt(back)}")
    }
  }

  test("GeoJSON parser tolerates whitespace and key order") {
    val g = GeoOutput.fromGeoJson("""{ "coordinates" : [ [0,0] , [1 , 2] ] , "type" : "LineString" }""")
    assert(GeomCodec.toWkt(g) == "LINESTRING (0 0, 1 2)")
  }

  // ----------------------------------------- shapefile multipolygon + holes

  test("shapefile export/import roundtrips a multipolygon with holes") {
    val wkt = "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2)), ((20 20, 25 20, 25 25, 20 25, 20 20)))"
    val g = GeomCodec.fromWkt(wkt)
    val df = Seq(("1", GeomCodec.toWkb(g))).toDF("id", "geometry")
      .withColumn("props", map(lit("name"), lit("mp")))
    val base = java.nio.file.Files.createTempDirectory("shp").resolve("mp").toString
    graft.sources.Shapefile.exportShapefile(df, base)
    val back = graft.sources.Shapefile.readShp(base + ".shp")
    assert(back.length == 1)
    val got = back.head.geometry
    assert(got.getArea == g.getArea, s"area ${got.getArea} != ${g.getArea}")
    assert(got.norm().equalsExact(g.norm(), 1e-9), GeomCodec.toWkt(got))
  }

  // --------------------------------------------- grid join fan-out cap path

  test("gridJoin routes oversized geometries through broadcast and stays correct") {
    def layer(rows: Seq[(String, Geometry)]) =
      rows.map { case (i, g) => (i, GeomCodec.toWkb(g)) }.toDF("id", "geometry")
        .withColumn("bbox", st.bboxOf(col("geometry")))
    // right side: one tiny box + one continent-sized box (fan-out ≫ cap at cellSize 1)
    val huge = GeomCodec.fromWkt("POLYGON ((-170 -80, 170 -80, 170 80, -170 80, -170 -80))")
    val tiny = GeomCodec.fromWkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    val pts = layer(Seq(("p1", GeomCodec.point(1, 1)), ("p2", GeomCodec.point(50, 50)),
      ("p3", GeomCodec.point(179, 85))))
    val boxes = layer(Seq(("huge", huge), ("tiny", tiny)))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("l_id", "r_id").as[(String, String)].collect().toSet
    val viaGrid = pairs(SpatialJoin.gridJoin(pts, boxes, cellSize = 1.0, "intersects"))
    val viaBroadcast = pairs(SpatialJoin.broadcastJoin(pts, boxes, "intersects"))
    assert(viaGrid == viaBroadcast)
    assert(viaGrid == Set(("p1", "huge"), ("p1", "tiny"), ("p2", "huge")))

    // the same fixture through SQL at cell size 1, inner and left outer: the
    // huge box would cover 341 × 161 cells uncapped; it joins through a
    // nested loop instead, so no explode emits more rows than one row may
    // cover
    graft.plans.GraftOptimizations.install(spark)
    pts.createOrReplaceTempView("cap_pts")
    boxes.createOrReplaceTempView("cap_boxes")
    spark.conf.set("spark.graft.sqlJoin.cellSize", "1.0")
    spark.conf.set("spark.graft.sqlJoin.broadcastBytes", "0")
    try {
      def viaSql(joinType: String) = {
        val q = spark.sql(
          s"""SELECT p.id, b.id FROM cap_pts p $joinType JOIN cap_boxes b
             |ON st_intersects(p.geometry, b.geometry)""".stripMargin)
        val rows = q.collect().map(r => (r.getString(0), r.getString(1))).toSet
        val generated = planNodes(q.queryExecution.executedPlan).collect {
          case g: org.apache.spark.sql.execution.GenerateExec => g.metrics("numOutputRows").value
        }
        assert(generated.nonEmpty && generated.max <= SpatialJoin.MaxCellsPerRow,
          s"$joinType: an explode emitted ${generated.max} rows")
        assert(planNodes(q.queryExecution.executedPlan)
          .exists(_.nodeName.startsWith("BroadcastNestedLoopJoin")), s"$joinType: no nested loop ran")
        rows
      }
      assert(viaSql("") == viaGrid)
      assert(viaSql("LEFT") == viaGrid + (("p3", null)))
    } finally {
      spark.conf.unset("spark.graft.sqlJoin.cellSize")
      spark.conf.unset("spark.graft.sqlJoin.broadcastBytes")
    }
  }

  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => s +: planNodes(s.plan)
    case o => o +: o.children.flatMap(planNodes)
  }

  // ----------------------------------- density islands on non-point layers

  test("densityIslandsScalable links large geometries whose bbox corners are far apart") {
    // two long horizontal bars, vertically 1 apart (distance 1 <= density 2),
    // but min-corners 100 apart in x — the corner-bucketing bug missed this edge
    val a = GeomCodec.fromWkt("LINESTRING (0 0, 100 0)")
    val b = GeomCodec.fromWkt("LINESTRING (100 1, 200 1)")
    val c = GeomCodec.fromWkt("LINESTRING (500 500, 501 500)")
    val df = Seq(("a", a), ("b", b), ("c", c))
      .map { case (i, g) => (i, GeomCodec.toWkb(g)) }.toDF("id", "geometry")
      .withColumn("bbox", st.bboxOf(col("geometry")))
    val islands = SpatialAggs.densityIslandsScalable(df, density = 2.0)
      .select("island_key", "n_members").as[(String, Long)].collect().toMap
    assert(islands == Map("a" -> 2L, "c" -> 1L), islands.toString)
  }

  // ------------------------------------------------- simhash banding recall

  test("simhashNearDupPairs finds pairs at the full claimed Hamming radius") {
    // craft docs whose 64-bit simhashes differ at moderate Hamming distance
    // (pick the first perturbation strength landing in (3, 15])
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    def hamOf(v: String): Int = {
      val sh = Seq(base, v).toDF("t").select(Dedup.simhash64(col("t"))).as[Long].collect()
      java.lang.Long.bitCount(sh(0) ^ sh(1))
    }
    val variant = (2 to 8).map { k =>
      (1 to 40).map(i => if (i % k == 0) s"zz$i" else s"tok$i").mkString(" ")
    }.find(v => { val h = hamOf(v); h > 3 && h <= 15 }).get
    val df = Seq((1L, base), (2L, variant)).toDF("doc_id", "text")
    val ham = hamOf(variant)
    val found = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxHamming = ham)
      .as[(Long, Long, Int)].collect()
    assert(found.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(found.head._3 == ham)
  }

  test("polySimhash matches an independent Scala recomputation") {
    val text = "key agg row scan slow fast table value part hash"
    val got = Seq(text).toDF("t").select(Dedup.polySimhash(col("t"), 24)).as[Long].head()
    def polyHash(s: String): Long =
      s.foldLeft(7L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val hs = text.split("\\s+").map(polyHash)
    val expected = (0 until 24).map { j =>
      val w = hs.map(h => if (((h >> j) & 1L) == 1L) 1 else -1).sum
      if (w > 0) 1L << j else 0L
    }.sum
    assert(got == expected)
  }

  // --------------------------------------------------- shingle Jaccard pairs

  test("shingleJaccardPairs computes exact word-4-gram Jaccard on candidates") {
    val d1 = "a b c d e f g h"
    val d2 = "a b c d e f g z" // shares 4-shingles
    val d3 = "q r s t u v w x"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val got = Dedup.shingleJaccardPairs(df, "doc_id", "text", threshold = 0.1, shingleK = 4)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    val (a, b, j) = got.head
    assert((a, b) == (1L, 2L))
    // sets: d1 {abcd,bcde,cdef,defg,efgh}, d2 {abcd,bcde,cdef,defg,efgz}: 4 shared, 6 union
    assert(math.abs(j - 4.0 / 6.0) < 1e-12)
  }

  // ------------------------------------------------------- similarity: IVF

  test("ivfTopK agrees with brute force when probing all lists") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2.map(_.toDouble)
    val full = Similarity.ivfTopK(df, "vec_id", "embedding", q, k = 10, nlist = 4, nprobe = 4)
      .select("id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect().toSeq
    assert(full == brute)
    // with nprobe < nlist the result is a subset of the probed lists but still
    // ranks the query's own vector first
    val part = Similarity.ivfTopK(df, "vec_id", "embedding", q, k = 5, nlist = 4, nprobe = 2)
      .select("id").as[Long].collect()
    assert(part.head == 0L)
  }

  test("k-means IVF: full probe equals brute force; partial probe has useful recall") {
    val rnd = new scala.util.Random(11)
    // 4 well-separated gaussian clusters so k-means has real structure to find
    val centers = Array.fill(4)(Array.fill(8)(rnd.nextGaussian() * 5))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.indices.map(d => (c(d) + rnd.nextGaussian() * 0.3).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(7)._2.map(_.toDouble)
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect().toSeq
    val fullProbe = Similarity.ivfTopKKMeans(df, "vec_id", "embedding", q,
        k = 10, nlist = 4, nprobe = 4, kmeansIters = 3)
      .select("id").as[Long].collect().toSeq
    assert(fullProbe == brute)
    val oneProbe = Similarity.ivfTopKKMeans(df, "vec_id", "embedding", q,
        k = 10, nlist = 4, nprobe = 1, kmeansIters = 3)
      .select("id").as[Long].collect().toSet
    // the query's own cluster holds its neighbors: recall should be high
    assert(brute.count(oneProbe.contains) >= 8, s"recall too low: $oneProbe vs $brute")
  }

  test("exactNearDupPairs finds symmetric duplicate vectors") {
    val v = Array.fill(6)(0.5f)
    val df = Seq((1L, v), (2L, v), (3L, v.map(-_))).toDF("vec_id", "embedding")
    val got = Similarity.exactNearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  // ------------------------------------------------ text: expr variants

  test("languageIdExpr agrees with the UDF heuristic on latin text") {
    val docs = Seq("the quick brown fox and the lazy dog", "der hund und die katze ist nicht da",
      "le chat est dans la maison pour que", "xyzzy plugh").toDF("text")
    val both = docs.select(
      TextAnalysis.languageId(col("text")).as("udf"),
      TextAnalysis.languageIdExpr(col("text")).as("expr")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("polyFingerprint is whitespace-normalized and case-insensitive") {
    val df = Seq(("A  b\tC", 1), ("a b c", 2)).toDF("t", "i")
    val fps = df.select(TextAnalysis.polyFingerprint(col("t"))).as[Long].collect()
    assert(fps(0) == fps(1))
  }

  // ------------------------------------------------------ grouped min/max

  test("maxOfGrouped keeps all tying rows per group") {
    val df = Seq(("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 1.0), ("b", 4, 2.0))
      .toDF("grp", "id", "v")
    val got = new GeoFrame(df).maxOfGrouped("v", "grp").df
      .select("id").as[Int].collect().toSet
    assert(got == Set(1, 2, 4))
  }

  // ---------------------------------------- bbox-conjunct optimizer rule

  test("BboxConjunctRule injects an envelope pre-filter that reaches the scan") {
    graft.plans.GraftOptimizations.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("bboxrule").toString
    val pts = (1 to 200).map { i =>
      val x = (i % 40).toDouble; val y = (i / 40).toDouble
      (i.toString, GeomCodec.toWkb(GeomCodec.point(x, y)), x, y)
    }.toDF("id", "geometry", "x", "y")
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    pts.write.mode("overwrite").parquet(dir)
    val layer = spark.read.parquet(dir)
    val rect = GeomCodec.toWkb(GeomCodec.fromWkt("POLYGON ((0.5 0.5, 10.5 0.5, 10.5 3.5, 0.5 3.5, 0.5 0.5))"))
    val q = layer.filter(call_udf("st_intersects", col("geometry"), lit(rect)))
    val optimized = q.queryExecution.optimizedPlan.toString()
    assert(optimized.contains("minx"), s"no envelope conjunct in:\n$optimized")
    // idempotent under fix-point: conjuncts injected once, not per pass
    assert("minx".r.findAllIn(optimized).length <= 4, s"rule re-injected conjuncts:\n$optimized")
    // same rows as the bare predicate evaluated without the rule's pre-filter
    val expected = pts.collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
      .filter { case (_, x, y) => x >= 0.5 && x <= 10.5 && y >= 0.5 && y <= 3.5 }
      .map(_._1).toSet
    assert(q.select("id").as[String].collect().toSet == expected)
    // directional predicates: literal on either side, correct containment sense
    val qWithin = layer.filter(call_udf("st_within", col("geometry"), lit(rect)))
    assert(qWithin.queryExecution.optimizedPlan.toString().contains("minx"))
    assert(qWithin.select("id").as[String].collect().toSet == expected)
  }

  // ----------------------------------------- addLayer preset dispatch (fix)

  test("addLayer point preset builds a point layer with the preset index") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    val proc = new graft.engine.SpatialProcedures(spark, wh)
    val src = Seq((1, 10.0, 20.0), (2, 30.0, 40.0)).toDF("pk", "lon", "lat")
    val gf = proc.addLayer("pts_hilbert", "Hilbert", src, "pk", "lon:lat")
    assert(gf.df.columns.contains("x") && gf.df.columns.contains("y"))
    assert(proc.catalog.getLayer("pts_hilbert").meta.get.indexType == "hilbert")
    assert(proc.catalog.getLayer("pts_hilbert").meta.get.encoder == "point-xy")
  }
}
