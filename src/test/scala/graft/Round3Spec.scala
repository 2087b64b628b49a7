package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.engine.SpatialProcedures
import graft.geom.GeomCodec
import graft.pipeline.{Dedup, Similarity}

/** Round-3 regression tests: prefix-filtered shingle Jaccard (skew-proof),
  * auto-sized near-dup blocking, and the small procedure-surface additions.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------- prefix-filtered Jaccard pairs

  test("shingleJaccardPairs: one stop-phrase shingle shared by ALL docs yields zero candidates") {
    // every doc shares the hot 4-gram "the common stop phrase"; the rest is
    // unique. A plain shared-shingle inverted index would emit n(n-1)/2
    // candidate pairs; prefix filtering sorts the hot shingle LAST by
    // document frequency so it never lands in a prefix at threshold 0.5.
    val n = 200
    val docs = (0 until n).map { i =>
      (i.toLong, s"the common stop phrase u${i}a u${i}b u${i}c u${i}d u${i}e")
    }.toDF("doc_id", "text")
    val sets = docs.select(col("doc_id").as("id"),
      udf((s: String) => {
        val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val set = scala.collection.mutable.HashSet.empty[Long]
        toks.sliding(4).foreach(w => set += graft.pipeline.TextAnalysis.fnv1a64(w.mkString(" ")))
        set.toArray
      }).apply(col("text")).as("ss"))
    val nCand = Dedup.shingleJaccardCandidates(sets, threshold = 0.5).count()
    assert(nCand == 0, s"expected 0 candidates on the skewed corpus, got $nCand")
    assert(Dedup.shingleJaccardPairs(docs, "doc_id", "text", 0.5, 4).count() == 0)
  }

  test("shingleJaccardPairs: prefix filter keeps exact recall for true near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                      // high Jaccard with 1
      (3L, "one two three four five six seven"),  // unrelated
      (4L, "the common stop phrase filler a b c"),
      (5L, "the common stop phrase filler d e f") // shares hot 4-grams with 4
    ).toDF("doc_id", "text")
    val got = Dedup.shingleJaccardPairs(docs, "doc_id", "text", threshold = 0.5, shingleK = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pair (1,2): sets of 7 vs 8 shingles sharing 7 → J = 7/8 ≥ 0.5.
    // pair (4,5): share 2 of each doc's 4 shingles → J = 2/6 < 0.5 (excluded).
    assert(got == Set((1L, 2L)))
  }

  test("shingleJaccardPairs matches the plain shared-shingle plan on a mixed corpus") {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 40).map(i => s"w$i")
    val docs = (0 until 60).map { i =>
      val words = Array.fill(12)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.shingleJaccardPairs(docs, "doc_id", "text", threshold = 0.3, shingleK = 3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    // reference result: brute-force exact Jaccard over all pairs
    val mat = docs.as[(Long, String)].collect()
    def sset(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    val want = (for {
      i <- mat.indices; j <- (i + 1) until mat.length
      sa = sset(mat(i)._2); sb = sset(mat(j)._2)
      jac = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if jac >= 0.3
    } yield {
      val (a, b) = if (mat(i)._1 < mat(j)._1) (mat(i)._1, mat(j)._1) else (mat(j)._1, mat(i)._1)
      (a, b, BigDecimal(jac).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toSet
    assert(got == want)
  }

  // ------------------------------------------------ auto-sized block pairing

  test("exactNearDupPairs results are identical for auto and explicit block counts") {
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 300).map(i => (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    def run(b: Int) = Similarity.exactNearDupPairs(df, "vec_id", "embedding", 0.5, b)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 9).as("c"))
      .as[(Long, Long, Double)].collect().toSet
    val auto = run(0)
    assert(auto.nonEmpty)
    assert(auto == run(2) && auto == run(7) && auto == run(32))
  }

  // ------------------------------------------- procedure-surface additions

  test("setFeatureAttributes persists the whitelist; JSON survives hostile names") {
    val wh = Files.createTempDirectory("graft-r3").toString
    val proc = new SpatialProcedures(spark, wh)
    val src = Seq(("1", 1.0, 2.0)).toDF("k", "lon", "lat")
    proc.addPointLayerXY("attrs_layer", src, "k", "lon", "lat")
    val hostile = Seq("plain", "with\"quote", "with,comma", "with\\backslash")
    assert(proc.setFeatureAttributes("attrs_layer", hostile) == hostile)
    assert(proc.layer("attrs_layer").meta.get.attributes == hostile)
  }

  test("equalEnvelopes matches only exact-envelope rows") {
    val wh = Files.createTempDirectory("graft-r3e").toString
    val proc = new SpatialProcedures(spark, wh)
    val src = Seq(("a", 1.0, 2.0), ("b", 1.0, 2.5), ("c", 3.0, 4.0)).toDF("k", "lon", "lat")
    proc.addPointLayerXY("env_layer", src, "k", "lon", "lat")
    val q = GeomCodec.point(1.0, 2.0)
    val got = proc.layer("env_layer").equalEnvelopes(q).df.select("id").as[String].collect().toSeq
    assert(got == Seq("a"))
  }

  // ----------------------------------------- provably-exact windowed k-NN

  test("knnCandidates equals the full-scan top-k, including forced window growth") {
    import graft.engine.GeoFrame
    import graft.functions.st
    // clustered far from the query point so the first density window misses
    // and the verb must grow + re-verify
    val pts = (1 to 2000).map { i =>
      val x = (i % 100).toDouble / 2; val y = (i / 100).toDouble / 2
      (i.toString, x, y)
    }.toDF("id", "x", "y")
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val layer = new GeoFrame(pts)
    for (k <- Seq(5, 50, 500)) {
      val pruned = layer.knnCandidates(48.0, 9.0, k)
        .df.orderBy(col("distance"), col("id")).limit(k)
        .select("id").as[String].collect().toSeq
      val full = pts
        .withColumn("distance", st.orthodromicKm(lit(48.0), lit(9.0), col("x"), col("y")))
        .orderBy(col("distance"), col("id")).limit(k)
        .select("id").as[String].collect().toSeq
      assert(pruned == full, s"k=$k mismatch")
    }
  }

  // ------------------------ BboxConjunctRule fires for the Scala API too

  test("BboxConjunctRule injects conjuncts for named Column-API UDFs and STPredicate") {
    import graft.functions.st
    // must be a file relation: ConvertToLocalRelation would otherwise fold
    // the whole filter away before the rule can be observed
    val dir = Files.createTempDirectory("bboxrule-r3").toString
    (1 to 100).map { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      (i.toString, GeomCodec.toWkb(GeomCodec.point(x, y)), x, y)
    }.toDF("id", "geometry", "x", "y")
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val rectG = GeomCodec.fromWkt("POLYGON ((0.5 0.5, 10.5 0.5, 10.5 3.5, 0.5 3.5, 0.5 0.5))")
    val rect = GeomCodec.toWkb(rectG)
    val expected = (1 to 100).filter { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      x >= 0.5 && x <= 10.5 && y >= 0.5 && y <= 3.5
    }.map(_.toString).toSet

    // Column-API UDF (st.intersects now carries its st_ name)
    val viaUdf = pts.filter(st.intersects(col("geometry"), lit(rect)))
    val planUdf = viaUdf.queryExecution.optimizedPlan.toString()
    assert(planUdf.contains("minx"), s"no conjunct for Column-API UDF:\n$planUdf")
    assert(viaUdf.select("id").as[String].collect().toSet == expected)

    // native prepared-geometry expression
    val viaExpr = pts.filter(graft.functions.STPredicate.column("intersects", col("geometry"), rectG))
    val planExpr = viaExpr.queryExecution.optimizedPlan.toString()
    assert(planExpr.contains("minx"), s"no conjunct for STPredicate:\n$planExpr")
    assert("minx".r.findAllIn(planExpr).length <= 4, s"re-injection:\n$planExpr")
    assert(viaExpr.select("id").as[String].collect().toSet == expected)

    // directional sense through STPredicate: row within query ⇒ bbox ⊆ env
    val viaWithin = pts.filter(graft.functions.STPredicate.column("within", col("geometry"), rectG))
    assert(viaWithin.queryExecution.optimizedPlan.toString().contains("minx"))
    assert(viaWithin.select("id").as[String].collect().toSet == expected)
  }

  test("BboxConjunctRule injects an expanded-envelope conjunct for distance ranges") {
    import graft.functions.st
    val dir = Files.createTempDirectory("bboxrule-dist").toString
    (1 to 100).map { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      (i.toString, GeomCodec.toWkb(GeomCodec.point(x, y)), x, y)
    }.toDF("id", "geometry", "x", "y")
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .write.mode("overwrite").parquet(dir)
    val pts = spark.read.parquet(dir)
    val q = lit(GeomCodec.toWkb(GeomCodec.point(5.0, 2.0)))
    val viaDist = pts.filter(st.distance(col("geometry"), q) <= 1.5)
    val plan = viaDist.queryExecution.optimizedPlan.toString()
    assert(plan.contains("minx"), s"no expanded-envelope conjunct:\n$plan")
    // env(point) expanded by 1.5 -> [3.5,6.5]x[0.5,3.5]; planar distance <= 1.5
    val expected = (1 to 100).filter { i =>
      val x = (i % 20).toDouble; val y = (i / 20).toDouble
      math.hypot(x - 5.0, y - 2.0) <= 1.5
    }.map(_.toString).toSet
    assert(viaDist.select("id").as[String].collect().toSet == expected)
  }

  // ------------------------------- recall invariants for probabilistic ops
  // dd_minhash_pairs / sim_srp_topk stay rows-only at the driver (candidate
  // sets are probabilistic); these tests pin their recall against the exact
  // ground-truth operators so they still carry a checked invariant.

  test("minhash LSH recall vs exact shingle-Jaccard ground truth") {
    val rnd = new scala.util.Random(3)
    val vocab = (0 until 200).map(i => s"tok$i")
    def doc(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(30)(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    // 40 base docs + 20 near-dups (one word changed -> Jaccard well above 0.7)
    val base = (0 until 40).map(i => (i.toLong, doc(i)))
    val dups = (0 until 20).map { i =>
      val words = base(i)._2.split(" "); words(7) = "mutated"
      ((100 + i).toLong, words.mkString(" "))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val truth = Dedup.shingleJaccardPairs(docs, "doc_id", "text", threshold = 0.7, shingleK = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.7, shingleK = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.size >= 15, s"weak ground truth: ${truth.size}")
    // precision is exact by construction (candidates are verified with exact
    // Jaccard); recall of 16-band/8-row LSH at J≈0.9 is essentially 1
    assert(found.subsetOf(truth))
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall below 0.9")
  }

  test("SRP near-dup recall vs exact cosine ground truth") {
    val rnd = new scala.util.Random(17)
    val base = Array.fill(30)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 30).flatMap { i =>
      val jitter = base(i).map(v => (v + rnd.nextGaussian() * 0.05).toFloat)
      Seq((i.toLong, base(i).map(_.toFloat)), ((100 + i).toLong, jitter))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val truth = Similarity.exactNearDupPairs(df, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.95,
        dim = 16, bits = 8, tables = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.size >= 25, s"weak ground truth: ${truth.size}")
    assert(found.subsetOf(truth))  // exact verify => perfect precision
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"SRP recall $recall below 0.8")
  }

  // --------------------------------------- lattice-predicate JTS invariants
  // These pin the JTS behaviors the sp_predicate_lattice oracle relies on.

  test("interiorPoint of an axis box is its exact center") {
    val df = Seq((2.5, -3.5)).toDF("x", "y")
      .withColumn("b", graft.functions.st.makeBox(col("x"), col("y"), col("x") + 1, col("y") + 1))
      .select(graft.functions.st.x(graft.functions.st.interiorPoint(col("b"))),
              graft.functions.st.y(graft.functions.st.interiorPoint(col("b"))))
    assert(df.as[(Double, Double)].head() == ((3.0, -3.0)))
  }

  test("symDifference part counts across box/rect relations") {
    import graft.functions.st
    val rect = lit(GeomCodec.toWkb(GeomCodec.fromWkt(
      "POLYGON ((0.5 -10.5, 30.5 -10.5, 30.5 40.5, 0.5 40.5, 0.5 -10.5))")))
    // (x, y, expected parts of symDifference(1.5-box, rect)): JTS merges pure
    // touches into ONE polygon but keeps the two lobes of a proper overlap
    // (they share only a boundary segment) as TWO result polygons.
    val cases = Seq(
      (100.5, 50.5, 2),    // strictly disjoint
      (30.5, 40.5, 1),     // corner touch at (30.5, 40.5)
      (30.5, 5.5, 1),      // edge touch on rect's right side
      (-0.5, 5.5, 2),      // proper overlap sticking out left
      (-0.5, -11.5, 2),    // corner overlap across (0.5, -10.5)
      (29.5, 5.5, 2),      // proper overlap sticking out right
      (10.5, 5.5, 1)       // strictly inside -> rect with hole
    )
    val got = cases.map { case (x, y, _) => (x, y) }.toDF("x", "y")
      .withColumn("b", st.makeBox(col("x"), col("y"), col("x") + 1.5, col("y") + 1.5))
      .select(col("x"), st.numGeometries(st.symDifference(col("b"), rect)).as("n"))
      .as[(Double, Int)].collect().toMap
    cases.foreach { case (x, _, want) => assert(got(x) == want, s"x=$x") }
  }

  test("overlap/touch/cover truth table for the 1.5-box vs aligned rect") {
    import graft.functions.st
    val rect = lit(GeomCodec.toWkb(GeomCodec.fromWkt(
      "POLYGON ((0.5 -10.5, 30.5 -10.5, 30.5 40.5, 0.5 40.5, 0.5 -10.5))")))
    // (x, y, overlaps, touches, coveredBy)
    val cases = Seq(
      (100.5, 50.5, false, false, false),
      (30.5, 40.5, false, true, false),    // corner touch
      (30.5, 5.5, false, true, false),     // edge touch
      (-0.5, 5.5, true, false, false),     // proper overlap
      (29.5, 5.5, true, false, false),
      (0.5, 5.5, false, false, true),      // inside, touching boundary from inside
      (10.5, 5.5, false, false, true)
    )
    val got = cases.map { case (x, y, _, _, _) => (x, y) }.toDF("x", "y")
      .withColumn("b", st.makeBox(col("x"), col("y"), col("x") + 1.5, col("y") + 1.5))
      .select(col("x"), st.overlaps(col("b"), rect), st.touches(col("b"), rect),
        st.coveredBy(col("b"), rect))
      .as[(Double, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    cases.foreach { case (x, _, o, t, c) => assert(got(x) == ((o, t, c)), s"x=$x got=${got(x)}") }
  }

  test("crosses: diagonal lattice segment vs off-lattice vertical line") {
    import graft.functions.st
    val v = lit(GeomCodec.toWkb(GeomCodec.fromWkt("LINESTRING (10.25 -200, 10.25 200)")))
    val got = Seq(8.5, 9.5, 10.5).toDF("x")
      .withColumn("d", st.makeLine(col("x"), lit(0.5), col("x") + 1, lit(1.5)))
      .select(col("x"), st.crosses(col("d"), v).as("c"))
      .as[(Double, Boolean)].collect().toMap
    assert(got == Map(8.5 -> false, 9.5 -> true, 10.5 -> false))
  }

  test("z coordinates survive WKB/WKT round trips; 2D output is unchanged") {
    import graft.functions.st
    val p3 = GeomCodec.point(1.5, 2.5, 42.0)
    assert(GeomCodec.hasZ(p3))
    val back = GeomCodec.fromWkb(GeomCodec.toWkb(p3))
    assert(back.getCoordinate.z == 42.0)
    assert(GeomCodec.toWkt(p3) == "POINT Z(1.5 2.5 42)")
    val line3 = GeomCodec.fromWkt("LINESTRING Z(0 0 1, 1 1 2)")
    assert(GeomCodec.fromWkb(GeomCodec.toWkb(line3)).getCoordinates.map(_.z).toSeq == Seq(1.0, 2.0))
    // 2D path untouched (every oracle depends on this)
    val p2 = GeomCodec.point(1.5, 2.5)
    assert(!GeomCodec.hasZ(p2))
    assert(GeomCodec.toWkt(p2) == "POINT (1.5 2.5)")
    // column accessors
    val got = Seq((1.5, 2.5, 42.0)).toDF("px", "py", "pz")
      .select(st.z(st.makePointZ(col("px"), col("py"), col("pz"))))
      .as[Double].head()
    assert(got == 42.0)
  }

  test("addPointLayerGeom accepts a WKB point-geometry column") {
    import graft.functions.st
    val wh = Files.createTempDirectory("graft-r3g").toString
    val proc = new SpatialProcedures(spark, wh)
    val src = Seq(("a", 1.5, 2.5), ("b", -3.5, 4.5)).toDF("k", "lon", "lat")
      .withColumn("g", st.makePoint(col("lon"), col("lat")))
    val gf = proc.addPointLayerGeom("geom_pts", src, "k", "g")
    val got = gf.df.select("id", "x", "y").as[(String, Double, Double)].collect().toSet
    assert(got == Set(("a", 1.5, 2.5), ("b", -3.5, 4.5)))
  }

  test("new SQL registrations: st_makebox/st_makeline/st_z/st_reverse") {
    val r = spark.sql(
      """SELECT st_area(st_makebox(0.0D, 0.0D, 2.0D, 3.0D)) AS a,
        |       st_numpoints(st_makeline(0.0D, 0.0D, 1.0D, 1.0D)) AS n,
        |       st_z(st_pointz(1.0D, 2.0D, 9.0D)) AS z,
        |       st_x(st_reverse(st_makeline(0.0D, 0.0D, 1.0D, 1.0D))) AS rx
        |""".stripMargin).head()
    assert(r.getDouble(0) == 6.0 && r.getInt(1) == 2 && r.getDouble(2) == 9.0 && r.getDouble(3) == 1.0)
  }

  test("asMap renders type + coordinates like the reference map function") {
    val proc = new SpatialProcedures(spark, Files.createTempDirectory("graft-r3m").toString)
    val m = proc.asMap(GeomCodec.toWkb(GeomCodec.point(3.5, -7.25)))
    assert(m("type") == "Point")
    assert(m("coordinates") == Seq(3.5, -7.25))
    val line = proc.asMap(GeomCodec.toWkb(GeomCodec.fromWkt("LINESTRING (0 0, 1 1)")))
    assert(line("type") == "LineString")
    assert(line("coordinates") == Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
  }
}
