package graft

import org.apache.spark.GraftTestConf
import org.apache.spark.sql.functions._

import graft.pipeline.{Graphs, Similarity}

/** Round-8 additions: the graph family's packed-key ceilings are gone
  * (struct-tuple orientation/argmin keys — ids and weights are arbitrary
  * longs), boruvkaMsf frees its superseded materialized generations (the
  * round-7 ADVICE no-op), kmeansCentroids recenters through a
  * partial-combining Aggregator, and ivfFilteredTopK validates nprobe.
  * The second real image codec (pure-JVM truecolor PNG) is pinned by an
  * encode/decode identity across all five row filters plus a two-engine
  * differential against javax.imageio.
  */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // node ids far above the old 2²²/2³¹ packed-key bounds, weights above 2¹⁸
  private val Big = 1L << 40

  test("boruvkaMsf accepts ids > 2^32 and weights > 2^18 (ceiling removed)") {
    // two components: a 4-cycle with a chord at offset 2^40, and a triangle
    // at offset 2^41 — weights chosen to force specific MST picks
    val w0 = (1L << 20) // above the old 2^18 weight bound
    val edges = Seq(
      (Big + 1, Big + 2, w0 + 5), (Big + 2, Big + 3, w0 + 1),
      (Big + 3, Big + 4, w0 + 2), (Big + 4, Big + 1, w0 + 3),
      (Big + 1, Big + 3, w0 + 4),
      (2 * Big + 1, 2 * Big + 2, 7L), (2 * Big + 2, 2 * Big + 3, 9L),
      (2 * Big + 1, 2 * Big + 3, 8L)
    ).toDF("src", "dst", "w")
    val got = Graphs.boruvkaMsf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set(
      (Big + 2, Big + 3, w0 + 1), (Big + 3, Big + 4, w0 + 2),
      (Big + 1, Big + 4, w0 + 3),
      (2 * Big + 1, 2 * Big + 2, 7L), (2 * Big + 1, 2 * Big + 3, 8L))
    assert(got == want)
  }

  test("boruvkaMsf matches sequential Kruskal on a random big-id graph") {
    // deterministic pseudo-random graph over 60 nodes with ids >= 2^40 and
    // 22-bit-plus weights; ties in w broken by (a, b) exactly like Kruskal
    val raw = (0 until 400).map { i =>
      val a = Big + (i * 2654435761L % 60)
      val b = Big + ((i * 40503L + 7) % 60)
      (a, b, (1L << 19) + (i * 48271L % 97))
    }
    val edges = raw.toDF("src", "dst", "w")
    val got = Graphs.boruvkaMsf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val und = raw.filter { case (a, b, _) => a != b }
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy { case (a, b, _) => (a, b) }
      .map { case ((a, b), es) => (a, b, es.map(_._3).min) }.toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = und.sortBy { case (a, b, w) => (w, a, b) }.flatMap {
      case (a, b, w) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
    }.toSet
    assert(got == want, s"MSF mismatch: ${got.size} vs ${want.size} edges")
  }

  test("triangleCounts and trussPeel accept ids > 2^32 (orientation structs)") {
    // K4 on big ids + a pendant edge: every K4 node sits on 3 triangles
    val k4 = Seq(
      (Big + 10, Big + 11), (Big + 10, Big + 12), (Big + 10, Big + 13),
      (Big + 11, Big + 12), (Big + 11, Big + 13), (Big + 12, Big + 13),
      (Big + 13, Big + 99))
    val edges = k4.toDF("src", "dst")
    val tri = Graphs.triangleCounts(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(tri == Map(Big + 10 -> 3L, Big + 11 -> 3L, Big + 12 -> 3L,
      Big + 13 -> 3L))
    // 4-truss of K4 + pendant = K4 itself (each K4 edge on 2 triangles)
    val t4 = Graphs.trussPeel(edges, k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val k4Edges = k4.dropRight(1).map { case (a, b) => (a, b, 2L) }.toSet
    assert(t4 == k4Edges)
  }

  test("boruvkaMsf frees its superseded Loop generations") {
    val sc = spark.sparkContext
    val edges = (0 until 200).map { i =>
      (i.toLong % 40, (i * 7L + 1) % 40, (i * 13L) % 50)
    }.toDF("src", "dst", "w")
    // the run localCheckpoints one frame per round×(hook/par/comp/ec/chosen)
    // step (~30+ for this graph); all superseded snapshots must be freed —
    // only the result-referenced frames (und, chosen) may remain. Counted
    // as RDDs holding blocks, with the cleaner paused (GraftTestConf)
    val leaked = GraftTestConf.withCleanerPaused(sc) {
      val before = GraftTestConf.rddsWithBlocks(sc)
      assert(Graphs.boruvkaMsf(edges).count() > 0)
      (GraftTestConf.rddsWithBlocks(sc) -- before).size
    }
    assert(leaked <= 3,
      s"boruvkaMsf leaked $leaked persisted RDD snapshots (Loop.free " +
        "is a no-op for materialized frames again?)")
  }

  test("kmeansCentroids recenter runs as a partial aggregate, same result") {
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i % 4) * 10 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
      k = 4, iters = 3)
    assert(cents.length == 4)
    // 4 perfectly-separated clusters recover their exact means
    val expected = (0 until 4).map(c =>
      Array.tabulate(8)(j => (c * 10 + j).toDouble))
    // centroids initialized from the first 4 ids = clusters 0,1,2,3 in order
    cents.zip(expected).foreach { case (got, want) =>
      got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
    }
  }

  test("BMP decode: golden byte vector (hand-assembled 2x2 bottom-up)") {
    // 2x2, 24-bit, stride = 8 (2 pad bytes/row); pixels top-down:
    //   (0,0) pure red   (1,0) pure green
    //   (0,1) pure blue  (1,1) white
    // bottom-up file order: row1 (blue, white) first, then row0
    val hdr = Array[Int](
      'B', 'M', 70, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0,   // file header
      40, 0, 0, 0, 2, 0, 0, 0, 2, 0, 0, 0,              // info: 2 x 2
      1, 0, 24, 0, 0, 0, 0, 0, 16, 0, 0, 0,             // planes/bpp/comp/size
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)   // resolution/palette
    val rows = Array[Int](
      255, 0, 0, /*blue BGR*/ 255, 255, 255, /*white*/ 0, 0,  // pad
      0, 0, 255, /*red BGR*/ 0, 255, 0, /*green*/ 0, 0)       // pad
    val bytes = (hdr ++ rows).map(_.toByte)
    val (w, h, luma) = graft.pipeline.ImageCodec.decodeBmpLuma(bytes)
    assert((w, h) == (2, 2))
    // luma = (299R + 587G + 114B) / 1000
    assert(luma.toSeq == Seq(299 * 255 / 1000, 587 * 255 / 1000,
      114 * 255 / 1000, 255))
  }

  test("BMP encode->decode identity; top-down and bottom-up bytes differ, pixels equal") {
    val rnd = new scala.util.Random(42)
    for ((w, h) <- Seq((1, 1), (3, 2), (5, 4), (16, 9))) {
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
      val want = (0 until w * h).map(p =>
        (299 * rgb(p * 3) + 587 * rgb(p * 3 + 1) + 114 * rgb(p * 3 + 2)) / 1000)
      val up = graft.pipeline.ImageCodec.encodeBmp(w, h, rgb)
      val down = graft.pipeline.ImageCodec.encodeBmp(w, h, rgb, topDown = true)
      assert(!java.util.Arrays.equals(up, down) || h == 1)
      for (enc <- Seq(up, down)) {
        val (gw, gh, luma) = graft.pipeline.ImageCodec.decodeBmpLuma(enc)
        assert((gw, gh) == (w, h))
        assert(luma.toSeq == want)
      }
    }
  }

  test("pHash over real BMP bytes: byte-different encodings of one image collide") {
    import org.apache.spark.sql.functions.udf
    val rnd = new scala.util.Random(7)
    val rgb = Array.fill(16 * 16 * 3)(rnd.nextInt(256))
    val enc = udf((topDown: Boolean) =>
      graft.pipeline.ImageCodec.encodeBmp(16, 16, rgb, topDown))
    val media = spark.range(0, 2).select(col("id").as("media_id"),
      lit("image").as("kind"), enc(col("id") === 1).as("bytes"))
    val sigs = graft.pipeline.Multimodal.phash64(media).collect()
    assert(sigs.length == 2)
    val bySig = sigs.map(r => r.getAs[Long]("sig")).distinct
    // the FNV stub CANNOT do this: the two byte streams differ (row order)
    // yet the real decode makes their signatures identical
    assert(bySig.length == 1,
      s"byte-different same-pixel BMPs got different pHashes: ${bySig.toSeq}")
  }

  test("ECQL ID filter: bare IN over feature ids (GeoTools docs form)") {
    import graft.functions.Ecql
    val df = Seq(("river.1", 1.0), ("river.2", 2.0), ("river.3", 3.0))
      .toDF("id", "flow")
    // GeoTools ECQL doc example: IN ('river.1', 'river.2')
    val got = df.filter(Ecql.toColumn("IN ('river.1', 'river.2')",
      df.columns.toSet)).select("id").as[String].collect().toSet
    assert(got == Set("river.1", "river.2"))
    // NOT IN, and ID filter combined with an attribute predicate
    val got2 = df.filter(Ecql.toColumn(
      "NOT IN ('river.1') AND flow < 3", df.columns.toSet))
      .select("id").as[String].collect().toSet
    assert(got2 == Set("river.2"))
    // no id column -> loud
    val noId = Seq((1, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Ecql.toColumn("IN ('a')", noId.columns.toSet)
    }
  }

  test("ECQL RELATE compiles the DE-9IM pattern exactly (quoted and bare)") {
    import graft.functions.{Ecql, st}
    val df = Seq(
        (1L, "POINT (0 0)"),      // inside the box
        (2L, "POINT (10 10)"),    // outside
        (3L, "POINT (5 0)"))      // inside
      .toDF("id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
    val box = "POLYGON ((-6 -6, 6 -6, 6 6, -6 6, -6 -6))"
    for (pat <- Seq("'T********'", "T********")) {
      val got = df.filter(Ecql.toColumn(
          s"RELATE(the_geom, $box, $pat)", df.columns.toSet))
        .select("id").as[Long].collect().toSet
      assert(got == Set(1L, 3L), s"pattern form $pat")
    }
    // a disjointness-demanding pattern must match the OUTSIDE point —
    // this is why RELATE gets no bbox prune conjunct
    val out = df.filter(Ecql.toColumn(
        s"RELATE(the_geom, $box, 'FF*FF****')", df.columns.toSet))
      .select("id").as[Long].collect().toSet
    assert(out == Set(2L))
    intercept[IllegalArgumentException] {
      Ecql.toColumn(s"RELATE(the_geom, $box, 'TTT')", df.columns.toSet)
    }
  }

  test("ECQL filter functions: strToLowerCase / strConcat / abs / floor / strLength") {
    import graft.functions.Ecql
    val df = Seq((1L, "Alpha", -7.2), (2L, "BETA", 3.9), (3L, "gamma", -1.0))
      .toDF("id", "name", "v")
    def ids(e: String) = df.filter(Ecql.toColumn(e, df.columns.toSet))
      .select("id").as[Long].collect().toSet
    assert(ids("strToLowerCase(name) = 'alpha'") == Set(1L))
    assert(ids("strToUpperCase(name) LIKE 'G%'") == Set(3L))
    assert(ids("abs(v) > 3") == Set(1L, 2L))
    assert(ids("floor(v) = -8") == Set(1L))
    assert(ids("strLength(name) = 4") == Set(2L))
    assert(ids("strConcat(name, 'X') = 'BETAX'") == Set(2L))
    // nested: function over arithmetic over props
    assert(ids("abs(v * 2 + 1) < 2") == Set(3L))
  }

  test("BoundedWindow enforces the documented bound under the test conf") {
    import graft.pipeline.BoundedWindow
    val df = spark.range(0, 100).toDF("i")
    // within bound: pass-through
    assert(BoundedWindow(df, 100, "test").count() == 100)
    // over bound: loud
    val ex = intercept[IllegalArgumentException] {
      BoundedWindow(df, 99, "test-over").count()
    }
    assert(ex.getMessage.contains("test-over"))
    // guard off => free pass-through even over bound
    withConf("spark.graft.assertBoundedWindows" -> "false") {
      assert(BoundedWindow(df, 1, "prod-path").count() == 100)
    }
  }

  test("PNG encode->decode identity for all five row filters, RGB and RGBA") {
    val rnd = new scala.util.Random(11)
    for ((w, h) <- Seq((1, 1), (3, 2), (7, 5), (16, 9)); ft <- 0 to 4;
         alpha <- Seq(false, true)) {
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
      val want = (0 until w * h).map(p =>
        (299 * rgb(p * 3) + 587 * rgb(p * 3 + 1) + 114 * rgb(p * 3 + 2)) / 1000)
      val enc = graft.pipeline.ImageCodec.encodePng(w, h, rgb, ft, alpha)
      val (gw, gh, luma) = graft.pipeline.ImageCodec.decodePngLuma(enc)
      assert((gw, gh) == (w, h), s"dims under filter $ft alpha=$alpha")
      assert(luma.toSeq == want, s"luma under filter $ft alpha=$alpha")
    }
  }

  test("PNG two-engine differential: javax.imageio reads ours, we read its") {
    val rnd = new scala.util.Random(13)
    val w = 19; val h = 11
    val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
    val want = (0 until w * h).map(p =>
      (299 * rgb(p * 3) + 587 * rgb(p * 3 + 1) + 114 * rgb(p * 3 + 2)) / 1000)
    // ours -> JDK: every filter type's byte stream is a conforming PNG
    for (ft <- 0 to 4) {
      val enc = graft.pipeline.ImageCodec.encodePng(w, h, rgb, ft)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
      assert(img != null, s"ImageIO rejected our filter-$ft PNG")
      assert((img.getWidth, img.getHeight) == (w, h))
      val jdkLuma = for (y <- 0 until h; x <- 0 until w) yield {
        val p = img.getRGB(x, y)
        (299 * ((p >> 16) & 0xFF) + 587 * ((p >> 8) & 0xFF) + 114 * (p & 0xFF)) / 1000
      }
      assert(jdkLuma == want, s"ImageIO pixel mismatch on filter $ft")
    }
    // JDK -> ours: an INDEPENDENTLY-encoded PNG (ImageIO picks its own
    // filters/compression) decodes identically through the pure decoder
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val s = (y * w + x) * 3
      img.setRGB(x, y, (rgb(s) << 16) | (rgb(s + 1) << 8) | rgb(s + 2))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val (gw, gh, luma) = graft.pipeline.ImageCodec.decodePngLuma(bos.toByteArray)
    assert((gw, gh) == (w, h))
    assert(luma.toSeq == want, "pure decoder disagrees with ImageIO's encoding")
  }

  test("pHash over real PNG bytes: filter-different encodings of one image collide") {
    import org.apache.spark.sql.functions.udf
    val rnd = new scala.util.Random(17)
    val rgb = Array.fill(16 * 16 * 3)(rnd.nextInt(256))
    val enc = udf((ft: Int) => graft.pipeline.ImageCodec.encodePng(16, 16, rgb, ft))
    val media = spark.range(0, 5).select(col("id").as("media_id"),
      lit("image").as("kind"), enc(col("id").cast("int")).as("bytes"))
    val sigs = graft.pipeline.Multimodal.phash64(media).collect()
    assert(sigs.length == 5)
    val bySig = sigs.map(r => r.getAs[Long]("sig")).distinct
    // five byte-different streams (one per filter type), one pixel grid
    assert(bySig.length == 1,
      s"filter-different same-pixel PNGs got different pHashes: ${bySig.toSeq}")
  }

  test("prefixSum: distributed exclusive scan matches the local scan") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 500).map(i => (rnd.nextInt(1000).toLong, i.toLong))
    val df = rows.toDF("k", "v").repartition(7)
    val got = graft.pipeline.Events.prefixSum(df,
        Seq(col("k"), col("v")), "v", "cum")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    var run = 0L
    rows.sortBy(identity).foreach { case (k, v) =>
      assert(got((k, v)) == run, s"cum at ($k,$v)")
      run += v
    }
  }

  test("mannWhitney: exact tie-aware rank algebra on a hand-checked fixture") {
    // A = {1,2,3}, B = {2,3,4}: R_A = 1 + 2.5 + 4.5 = 8 (2R_A=16),
    // U_A = 2, ties = 6+6 = 12, sigma^2 = 9/12*(7 - 12/30) = 4.95,
    // z = (2 - 4.5)/sqrt(4.95) = -1.123666
    val df = Seq((1L, 0L), (2L, 0L), (3L, 0L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("m", "variant")
    val r = graft.pipeline.Events.mannWhitney(df, "m", "variant").head()
    assert(r.getAs[Long]("n_a") == 3 && r.getAs[Long]("n_b") == 3)
    assert(r.getAs[Long]("two_u_a") == 4)
    assert(r.getAs[Long]("ties") == 12)
    assert(math.abs(r.getAs[Double]("z") - -1.123666) < 1e-9)
  }

  test("mojibake repair: plants fixed, clean accents untouched, counts exact") {
    import graft.pipeline.Corpus
    val damaged = "caf\u00C3\u00A9 says it\u00E2\u20AC\u2122s ni\u00C3\u00B1o"
    val clean = "caf\u00E9 says it\u2019s ni\u00F1o"
    val df = Seq((1L, damaged), (2L, clean), (3L, "plain ascii"))
      .toDF("doc_id", "t")
    val out = Corpus.fixMojibake(df, "doc_id", "t").collect()
    assert(out.length == 1 && out(0).getAs[Long]("id") == 1L)
    assert(out(0).getAs[Long]("n_moji") == 3)
    assert(out(0).getAs[Long]("n_after") == clean.length.toLong)
    // repaired text IS the clean string (same md5)
    val cleanHash = java.security.MessageDigest.getInstance("MD5")
      .digest(clean.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getAs[String]("h") == cleanHash)
  }

  test("ivfFilteredTopK rejects nprobe < 1 loudly (no infinite escalation)") {
    val vecs = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(4)(j => (i + j).toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfFilteredTopK(vecs, "vec_id", "embedding",
        col("label") === 1, Array(1.0, 2.0, 3.0, 4.0), k = 5,
        nlist = 4, nprobe = 0)
    }
    assert(ex.getMessage.contains("nprobe"))
  }
}
