package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.engine.{GeoFrame, SpatialCatalog, SpatialJoin}
import graft.functions.st
import graft.geom.GeomCodec
import graft.plans.SpatialLayout
import graft.streaming.PointStream

/** Layout-matrix equivalence (the reference's IndexImplementationMatrixTest
  * analog: same query, every index/layout, identical results —
  * reference: index/IndexImplementationMatrixTest.java:84-103), spatial-join
  * strategies, and streaming ingest.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def randomPoints(n: Int): org.apache.spark.sql.DataFrame = {
    // deterministic pseudo-random points in [0,100)²
    spark.range(n.toLong)
      .withColumn("x", (col("id") * 37 % 1000).cast("double") / 10)
      .withColumn("y", (col("id") * 73 % 1000).cast("double") / 10)
      .select(col("id").cast("long").as("k"), col("x"), col("y"))
  }

  test("layout matrix: bbox vs hilbert vs zorder vs geohash return identical results") {
    val wh = Files.createTempDirectory("graft-matrix").toString
    val cat = new SpatialCatalog(spark, wh)
    val src = randomPoints(5000)
    val results = Seq("bbox", "hilbert", "zorder", "geohash").map { idx =>
      cat.createPointLayer(s"pts_$idx", src, "k", "x", "y", indexType = idx)
      val hits = cat.getLayer(s"pts_$idx")
        .intersectsWindow(20.0, 30.0, 45.0, 55.0)
        .df.select("id").as[String].collect().sorted.toSeq
      idx -> hits
    }.toMap
    assert(results("bbox").nonEmpty)
    assert(results.values.toSet.size == 1, "layouts disagree on query results")
  }

  test("windowViaCurve returns intersectsWindow results and actually prunes the scan (all curve layouts)") {
    val wh = Files.createTempDirectory("graft-curve-read").toString
    val cat = new SpatialCatalog(spark, wh)
    val src = randomPoints(50000)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scannedRows(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val plan = d.queryExecution.executedPlan match {
        case ad: AdaptiveSparkPlanExec => ad.executedPlan
        case p => p
      }
      plan.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
    }
    // write at 64 files so scan granularity resembles a real table's many
    // row groups (at 4 files a single file IS 25% of the table and pruning
    // evidence is unmeasurable)
    withConf("spark.sql.shuffle.partitions" -> "64") {
      for (idx <- Seq("hilbert", "zorder", "geohash")) {
        cat.createPointLayer(s"pts_cr_$idx", src, "k", "x", "y", indexType = idx)
      }
    }
    for (idx <- Seq("hilbert", "zorder", "geohash")) {
      val layer = cat.getLayer(s"pts_cr_$idx")
      assert(layer.df.columns.contains("__sfc"), s"$idx: __sfc key must be stored")

      val viaCurve = layer.windowViaCurve(20.0, 30.0, 45.0, 55.0)
      val plain = layer.intersectsWindow(20.0, 30.0, 45.0, 55.0)
      val a = viaCurve.df.select("id").as[String].collect().sorted.toSeq
      val b = plain.df.select("id").as[String].collect().sorted.toSeq
      assert(a.nonEmpty && a == b, s"$idx: curve-range read must equal the plain window read")

      // pruning evidence: the scan behind the curve-range plan must emit far
      // fewer rows than the table holds (row groups outside the __sfc ranges
      // are skipped via parquet min/max stats on the sorted key)
      val rows = scannedRows(viaCurve.df)
      assert(rows > 0 && rows < 50000 / 2, s"$idx: expected pruned scan, read $rows of 50000 rows")

      // a two-column projection reads only those two columns
      val narrow = layer.df.select("id", "x").filter(col("x") > 100).queryExecution.sparkPlan
      assert(narrow.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq } ==
        Seq(Seq("id", "x")), s"$idx: scan not pruned to two columns:\n$narrow")
    }
  }

  test("curve ranges cover every in-window stored key (coarse/fine quantization nests)") {
    // pure-math regression for the coarse-rectangle bug: toCell scales by
    // 2^level-1, so a window-corner cell computed at the coarse level can be
    // one LESS than the fine cell >> shift of an in-window point; ranges must
    // derive from the fine quantization or keys near the max edge get dropped
    val rnd = new scala.util.Random(20260812)
    val level = SpatialLayout.DefaultLevel
    for (_ <- 1 to 500) {
      val x = rnd.nextDouble() * 360 - 180
      val y = rnd.nextDouble() * 180 - 90
      val wMinx = x - rnd.nextDouble() * 30; val wMaxx = x + rnd.nextDouble() * 30
      val wMiny = y - rnd.nextDouble() * 30; val wMaxy = y + rnd.nextDouble() * 30
      val cx = SpatialLayout.toCell(x, -180, 180, level)
      val cy = SpatialLayout.toCell(y, -90, 90, level)
      val hKey = SpatialLayout.hilbert(cx, cy, level)
      val zKey = SpatialLayout.zOrder(cx, cy, level)
      val hRanges = SpatialLayout.hilbertRangesForWindow(wMinx, wMiny, wMaxx, wMaxy)
      val zRanges = SpatialLayout.zorderRangesForWindow(wMinx, wMiny, wMaxx, wMaxy)
      assert(hRanges.exists { case (lo, hi) => hKey >= lo && hKey <= hi },
        s"hilbert key of ($x,$y) not covered by window ($wMinx,$wMiny,$wMaxx,$wMaxy)")
      assert(zRanges.exists { case (lo, hi) => zKey >= lo && zKey <= hi },
        s"zorder key of ($x,$y) not covered by window ($wMinx,$wMiny,$wMaxx,$wMaxy)")
      val gKey = SpatialLayout.geohash(x, y, 9)
      val prefixes = SpatialLayout.geohashPrefixesForWindow(wMinx, wMiny, wMaxx, wMaxy)
      assert(prefixes.exists(gKey.startsWith),
        s"geohash of ($x,$y) not covered by window ($wMinx,$wMiny,$wMaxx,$wMaxy)")
    }
  }

  test("whole-earth window enumerates a bounded cell count and full key span") {
    val ranges = SpatialLayout.hilbertRangesForWindow(-180, -90, 180, 90,
      level = 20, coarse = 20)   // naively 2^40 cells — must adaptively coarsen
    assert(ranges.size <= 4096, s"driver-side enumeration not capped: ${ranges.size} ranges")
    assert(ranges.head._1 == 0 && ranges.map(r => r._2 - r._1 + 1).sum == (1L << 40),
      "whole-earth ranges must cover the entire key space")
  }

  test("hilbert curve is a bijective space-filling walk") {
    val level = 4
    val n = 1 << level
    val ds = for (x <- 0L until n; y <- 0L until n) yield SpatialLayout.hilbert(x, y, level)
    assert(ds.toSet.size == n * n)            // bijection onto [0, n²)
    assert(ds.min == 0 && ds.max == n * n - 1)
  }

  test("zorder interleaves bits") {
    assert(SpatialLayout.zOrder(0, 0, 4) == 0)
    assert(SpatialLayout.zOrder(1, 0, 4) == 1)
    assert(SpatialLayout.zOrder(0, 1, 4) == 2)
    assert(SpatialLayout.zOrder(3, 3, 4) == 15)
  }

  test("geohash matches known values") {
    // well-known reference value: (lat 57.64911, lon 10.40744) → u4pruydqqvj
    assert(SpatialLayout.geohash(10.40744, 57.64911, 11) == "u4pruydqqvj")
  }

  test("hilbert window ranges cover exactly the window's coarse cells") {
    val ranges = SpatialLayout.hilbertRangesForWindow(0, 0, 1, 1, 0, 0, 16, 16, level = 8, coarse = 4)
    // window = one coarse cell → a single contiguous range of 4^(8-4)=256
    assert(ranges.map { case (lo, hi) => hi - lo + 1 }.sum == 256)
  }

  test("broadcast and grid spatial joins agree with each other and with brute force") {
    val left = randomPoints(800)
      .withColumn("id", col("k").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    // right: 16 overlapping boxes as polygons
    val boxes = (0 until 16).map { i =>
      val minx = (i % 4) * 25.0; val miny = (i / 4) * 25.0
      (i.toString, s"POLYGON (($minx $miny, ${minx + 30} $miny, ${minx + 30} ${miny + 30}, $minx ${miny + 30}, $minx $miny))")
    }.toDF("id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .withColumn("bbox", st.bboxOf(col("geometry"))).drop("wkt")

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_id"), col("r_id")).as[(String, String)].collect().toSet

    val viaBroadcast = pairs(SpatialJoin.broadcastJoin(left, boxes, "intersects"))
    val viaGrid = pairs(SpatialJoin.gridJoin(left, boxes, cellSize = 10.0, "intersects"))
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast == viaGrid, s"strategies disagree: ${viaBroadcast.size} vs ${viaGrid.size}")

    // brute-force truth on a sample
    val sample = left.limit(50).select("id", "geometry").as[(String, Array[Byte])].collect()
    val boxGeoms = boxes.select("id", "geometry").as[(String, Array[Byte])].collect()
    val brute = (for {
      (lid, lg) <- sample
      (rid, rg) <- boxGeoms
      if GeomCodec.fromWkb(lg).intersects(GeomCodec.fromWkb(rg))
    } yield (lid, rid)).toSet
    val sampleIds = sample.map(_._1).toSet
    assert(viaBroadcast.filter(p => sampleIds.contains(p._1)) == brute)
  }

  test("grid join stays correct when every row lands in one hot cell") {
    // adversarial skew: cellSize far larger than the data span, so BOTH
    // sides replicate into a single grid cell — the equi-shuffle has exactly
    // one key. Correctness must hold (reference-point dedup degenerates to a
    // no-op); at scale AQE's skew-join splitter (enabled in the bench
    // session) re-splits the hot partition so no single straggler dominates.
    val left = randomPoints(4000)
      .withColumn("id", col("k").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val boxes = (0 until 16).map { i =>
      val minx = (i % 4) * 25.0; val miny = (i / 4) * 25.0
      (i.toString, s"POLYGON (($minx $miny, ${minx + 30} $miny, ${minx + 30} ${miny + 30}, $minx ${miny + 30}, $minx $miny))")
    }.toDF("id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .withColumn("bbox", st.bboxOf(col("geometry"))).drop("wkt")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l_id"), col("r_id")).as[(String, String)].collect().toSet
    // cellSize 1000 ⇒ all bboxes map to cell (0,0): the single-hot-cell plan
    val hot = pairs(SpatialJoin.gridJoin(left, boxes, cellSize = 1000.0, "intersects"))
    val truth = pairs(SpatialJoin.broadcastJoin(left, boxes, "intersects"))
    assert(hot.nonEmpty && hot == truth,
      s"hot-cell grid join diverged: ${hot.size} vs ${truth.size}")
  }

  test("knnJoin matches brute force across exact, ring, and fallback branches") {
    // dense cluster → exact branch; the 20-group has k candidates in the
    // 3×3 block but a closer point OUTSIDE it (17.2 < block min 19) → the
    // ring expansion must find it; the 10-group and isolated outliers have
    // < k block candidates → cross-join fallback
    val pts: Seq[(Long, Double, Double)] =
      (1 to 60).map(i => (i.toLong, (i % 8) * 0.3, (i / 8) * 0.3)) ++
      Seq((100L, 10.0, 10.0), (101L, 10.4, 10.0), (102L, 10.0, 10.6), (103L, 12.0, 11.0),
        (300L, 20.1, 20.1), (301L, 21.8, 20.1), (302L, 20.1, 21.9), (303L, 22.5, 22.5),
        (304L, 17.2, 20.1),
        (200L, 50.0, -40.0), (201L, 80.0, 70.0))
    val df = pts.toDF("id", "x", "y")
    val got = SpatialJoin.knnJoin(df, df, k = 3, cellSize = 1.0, excludeSelf = true)
      .select(col("qid"), col("pid"), col("d2"), col("rk"))
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = pts.flatMap { case (qi, qx, qy) =>
      pts.filter(_._1 != qi)
        .map { case (pi, px, py) => (pi, (qx - px) * (qx - px) + (qy - py) * (qy - py)) }
        .sortBy { case (pi, d) => (d, pi) }
        .take(3).zipWithIndex.map { case ((pi, d), r) => (qi, pi, d, r + 1) }
    }.toSet
    assert(got == brute)
    // the out-of-block closer point must have displaced the block's 3rd
    assert(got.contains((300L, 304L,
      (20.1 - 17.2) * (20.1 - 17.2), 3)))
  }

  test("auto cell sizing picks a usable grid and matches broadcast results") {
    val left = randomPoints(600)
      .withColumn("id", col("k").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
    val boxes = (0 until 12).map { i =>
      val minx = (i % 4) * 25.0; val miny = (i / 4) * 25.0
      (i.toString, s"POLYGON (($minx $miny, ${minx + 20} $miny, ${minx + 20} ${miny + 20}, $minx ${miny + 20}, $minx $miny))")
    }.toDF("id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .withColumn("bbox", st.bboxOf(col("geometry"))).drop("wkt")
    val cs = SpatialJoin.suggestCellSize(left, boxes)
    assert(cs > 0 && cs <= 100, s"cell size $cs out of range")
    // a right side this small broadcasts: pin the grid
    withConf("spark.graft.sqlJoin.broadcastBytes" -> "0") {
      val autoDf = SpatialJoin.join(left, boxes, "intersects")
      val auto = autoDf.collect().map(r => (r.getAs[String]("l_id"), r.getAs[String]("r_id"))).toSet
      // the plan that ran: the grid's nested loops for rows over the cell
      // cap are planned, and dropped at run time when no row is over it
      val plan = autoDf.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
        case other => other.toString
      }
      assert("""(SortMergeJoin|HashJoin) \[[^\]]*__g_lcx""".r.findFirstIn(plan).nonEmpty &&
        !plan.contains("BroadcastNestedLoopJoin"), s"auto join is not the cell equi-join:\n$plan")
      val bcast = SpatialJoin.broadcastJoin(left, boxes, "intersects")
        .select("l_id", "r_id").as[(String, String)].collect().toSet
      assert(auto.nonEmpty && auto == bcast)
    }
  }

  test("grid join: one oversized row per side among many small ones stays a bounded join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val cell = 2.0
    // 2000 half-unit boxes per side, plus one box covering them all
    // (100 × 50 cells at this cell size, far over the cap)
    def small(a: Int, b: Int) = (0 until 2000).map { i =>
      val (x, y) = ((i * a % 200) * 0.9 - 90, (i * b % 100) * 0.9 - 45)
      (s"s$i", x, y, x + 0.5, y + 0.5)
    }
    def layer(rows: Seq[(String, Double, Double, Double, Double)]) =
      (rows :+ (("big", -100.0, -50.0, 100.0, 50.0))).toDF("id", "x0", "y0", "x1", "y1")
        .withColumn("geometry", st.geomFromText(format_string(
          "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))", col("x0"), col("y0"), col("x1"), col("y0"),
          col("x1"), col("y1"), col("x0"), col("y1"), col("x0"), col("y0"))))
        .withColumn("bbox", st.bboxOf(col("geometry"))).select("id", "geometry", "bbox")
    val (ls, rs) = (small(37, 53), small(41, 29))
    val grid = SpatialJoin.gridJoin(layer(ls), layer(rs), cell, "intersects")
    val got = grid.collect().map(r => (r.getAs[String]("l_id"), r.getAs[String]("r_id")))
    val want = SpatialJoin.broadcastJoin(layer(ls), layer(rs), "intersects")
      .select("l_id", "r_id").as[(String, String)].collect()
    assert(got.length == want.length && got.toSet == want.toSet)
    assert(got.count(_._1 == "big") == 2001 && got.count(_._2 == "big") == 2001)

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r +: nodes(r.child)
      case o => o +: o.children.flatMap(nodes)
    }
    def rowsOut(p: SparkPlan) = nodes(p).collectFirst {
      case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value
    }.getOrElse(fail(s"no row count under\n$p"))
    val ran = nodes(grid.queryExecution.executedPlan)
    // every small row is copied to the cells of its own box and nowhere
    // else (an x explode, then a y explode per side), and the big rows
    // never reach an explode...
    def copies(rows: Seq[(String, Double, Double, Double, Double)]) = rows.map { case (_, x0, y0, x1, y1) =>
      val nx = math.floor(x1 / cell).toLong - math.floor(x0 / cell).toLong + 1
      nx + nx * (math.floor(y1 / cell).toLong - math.floor(y0 / cell).toLong + 1)
    }.sum
    val generated = ran.collect { case g: org.apache.spark.sql.execution.GenerateExec
        if g.generatorOutput.exists(_.name.matches("__g_[lr]c[xy]")) => g.metrics("numOutputRows").value }
    assert(generated.sum == copies(ls) + copies(rs), generated)
    // ...they pair through two nested loops that broadcast only them, so
    // the candidate pairs are the cell-sharing ones plus |L| + |R|
    val loops = ran.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(loops.size == 2 && loops.forall(j =>
      rowsOut(if (j.buildSide == BuildLeft) j.left else j.right) == 1), loops)
  }

  test("updateWKT replaces a geometry in place") {
    val wh = Files.createTempDirectory("graft-upd").toString
    val proc = new graft.engine.SpatialProcedures(spark, wh)
    proc.addWKTLayer("upd", Seq(("a", "POINT (1 1)"), ("b", "POINT (2 2)")).toDF("k", "wkt"), "k", "wkt")
    proc.updateWKT("upd", "a", "LINESTRING (0 0, 5 5)")
    val layer = proc.layer("upd")
    assert(layer.count() == 2)
    val types = layer.df.select("id", "gtype").as[(String, Int)].collect().toMap
    assert(types == Map("a" -> GeomCodec.GTYPE_LINESTRING, "b" -> GeomCodec.GTYPE_POINT))
    intercept[IllegalArgumentException] { proc.updateWKT("upd", "zzz", "POINT (0 0)") }
  }

  test("streaming point ingest writes a batch-readable layer with watermark aggregation") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val srcDir = s"$dir/in"; val outDir = s"$dir/layer"; val ckpt = s"$dir/ckpt"
    // seed input files
    randomPoints(200)
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, cast(k % 60 AS int), 0)"))
      .write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val canonical = PointStream.canonicalize(stream, "k", "x", "y")
    val q = PointStream.writeToLayer(canonical.withColumn("ts", col("ts")), outDir, ckpt)
    awaitAndStop(q, 60000)
    val layer = new GeoFrame(spark.read.parquet(outDir))
    assert(layer.count() == 200)
    // batch query over the streamed layer works unchanged
    assert(layer.intersectsWindow(0, 0, 100, 100).count() == 200)
    // windowed watermark agg (batch-mode execution of the streaming plan shape)
    val agg = PointStream.windowedCellStats(
      spark.read.parquet(outDir).join(spark.read.parquet(srcDir).select(col("k").cast("string").as("id"), col("ts")), "id"),
      "ts", "10 minutes", 25.0)
    assert(agg.count() > 0)
  }

  test("ngram verify streams candidates against a broadcast set map") {
    // regression pin for the dense-candidate fix: on a corpus that fits an
    // executor, the verify step must stream the (id_a, id_b) candidates
    // through mapPartitions against ONE broadcast id→set map — there must
    // be NO join that materializes a gram array per candidate row (the
    // broadcast-join verify copied both ~2 KB arrays into every candidate
    // row; the shuffle-join verify before it was the 100x regression)
    val docs = (1 to 120).map { i =>
      val base = s"data pipeline shard ${i % 7} compaction window merge sort spill metrics"
      (i.toLong, if (i % 11 == 0) base else base + s" salt$i tail$i")
    }.toDF("doc_id", "text")
    val pairs = graft.pipeline.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.9, 3)
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(plan.contains("MapPartitions"),
      s"verify is not the streaming mapPartitions shape:\n$plan")
    assert(!plan.contains("ss_a"),
      s"verify still materializes gram arrays into candidate rows:\n$plan")
    // and the result is still exactly the brute-force answer
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val gramSets = docs.collect().map { r =>
      val norm = r.getString(1).toLowerCase.replaceAll("\\s+", " ")
      r.getLong(0) -> (0 to norm.length - 3).map(i => norm.substring(i, i + 3)).toSet
    }
    val brute = (for {
      (ia, sa) <- gramSets; (ib, sb) <- gramSets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= 0.9
    } yield (ia, ib)).toSet
    assert(got == brute, s"pairs diverge from brute force: got=$got brute=$brute")
  }

  test("curve-window selectivity holds at every query position (no positional degradation)") {
    // the reference encodes two structural contracts the ladder alone cannot
    // see: geometries touched <= 100x matched (RTreeBulkInsertTest.java:
    // 1461-1469, maxNodeReferences = 100) and no positional degradation
    // (GeoPipesPerformanceTest.java:47,146 asserts per-chunk latency < 2x
    // overall). Timing is nondeterministic under CI load, so we pin the
    // deterministic quantity BEHIND both: rows scanned per query position.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scannedRows(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      val plan = d.queryExecution.executedPlan match {
        case ad: AdaptiveSparkPlanExec => ad.executedPlan
        case p => p
      }
      plan.collect { case sc: FileSourceScanExec => sc.metrics("numOutputRows").value }.sum
    }
    val wh = Files.createTempDirectory("graft-posuni").toString
    val cat = new SpatialCatalog(spark, wh)
    cat.createPointLayer("uni", randomPoints(50000).repartition(64),
      "k", "x", "y", indexType = "hilbert")
    val ratios = (0 until 10).map { p =>
      val base = p * 9.0   // 10 same-size windows marching along the diagonal
      val q = cat.getLayer("uni").windowViaCurve(base, base, base + 8.0, base + 8.0)
      val matched = q.count()
      val scanned = scannedRows(q.df)
      assert(matched > 0, s"position $p matched nothing — fixture broken")
      assert(scanned <= 100L * matched,
        s"position $p: scanned $scanned > 100x matched $matched")
      scanned.toDouble / matched
    }
    // uniformity: no position may scan disproportionately vs the mean ratio
    val mean = ratios.sum / ratios.size
    ratios.zipWithIndex.foreach { case (r, p) =>
      assert(r < 2.0 * mean + 1e-9,
        s"position $p degrades: scan/match ratio $r vs mean $mean")
    }
  }

  test("streaming spatial enrichment: region tag + windowed rollup matches batch") {
    val dir = Files.createTempDirectory("graft-enrich").toString
    val regions = Seq(
      (1L, "POLYGON ((0 0, 50 0, 50 50, 0 50, 0 0))"),
      (2L, "POLYGON ((50 0, 100 0, 100 50, 50 50, 50 0))"))
      .toDF("region_id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
    randomPoints(400)
      .withColumn("ts", expr("timestamp'2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, cast(k % 30 AS int), 0)"))
      .write.parquet(s"$dir/in")
    val schema = spark.read.parquet(s"$dir/in").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
    val q = PointStream.enrichWithRegions(
        PointStream.canonicalize(stream, "k", "x", "y").withColumn("ts", col("ts")),
        regions, "ts", "10 minutes")
      .writeStream.format("memory").queryName("enr").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    awaitAndStop(q, 120000)
    val got = spark.table("enr")
      .select(col("window.start").cast("long"), col("region_id"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    val want = PointStream.enrichWithRegions(
        PointStream.canonicalize(spark.read.parquet(s"$dir/in"), "k", "x", "y")
          .withColumn("ts", col("ts")),
        regions, "ts", "10 minutes")
      .select(col("window.start").cast("long"), col("region_id"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
    // geofence semantics: a point on neither region (x>=... none, since the
    // region pair tiles [0,100)x[0,50)) — points with y >= 50 must be absent
    val tagged = spark.table("enr").agg(sum(col("n"))).head().getLong(0)
    val inRegion = spark.read.parquet(s"$dir/in")
      .filter(col("y") <= 50 && col("x") <= 100).count()
    assert(tagged <= inRegion)
  }

  // ---------------------------------------------- incremental bucketed layer

  private def earthPoints(n: Int) =
    spark.range(n.toLong).select(col("id").cast("long").as("k"))
      .withColumn("x", ((col("k") % 360) - 180 + 0.5).cast("double"))
      .withColumn("y", ((col("k") * 7 % 180) - 90 + 0.5).cast("double"))
      .withColumn("id", col("k").cast("string"))
      .withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))

  private def bucketDirState(p: String): Map[String, Set[(String, Long)]] =
    new java.io.File(p).listFiles
      .filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName ->
        d.listFiles.filter(_.getName.startsWith("part-"))
          .map(f => (f.getName, f.length)).toSet)
      .toMap

  test("bucketed upsert: partial rewrite touches only affected bucket dirs; correct merged reads") {
    val p = Files.createTempDirectory("graft-upsert").toString + "/pts"
    val pts = earthPoints(8000)
    SpatialLayout.writeClusteredBuckets(pts.filter(col("k") % 2 === 0), p)
    val before = bucketDirState(p)
    assert(before.size > 4, s"expected several bucket dirs, got ${before.keys}")
    // localized odd batch: lands in few buckets
    val batch = pts.filter(col("k") % 2 === 1 &&
      col("x").between(5, 25) && col("y").between(5, 25))
    val nb = batch.count()
    assert(nb > 0 && nb < 400)
    assert(SpatialLayout.upsertClusteredBuckets(batch, p) == "partial")
    val after = bucketDirState(p)
    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty, "no bucket dir changed")
    assert(changed.size < before.size,
      s"partial upsert rewrote every bucket dir: $changed")
    // merged reads: curve+bucket pruned window == plain filter over union
    val layer = new GeoFrame(spark.read.parquet(p),
      Some(graft.engine.LayerMeta("u", GeomCodec.GTYPE_POINT,
        encoder = "point-xy", indexType = "hilbert")))
    val got = layer.windowViaCurve(0.5, -10.5, 30.5, 40.5)
      .df.select("k").as[Long].collect().sorted.toSeq
    val want = pts.filter((col("k") % 2 === 0 ||
        (col("k") % 2 === 1 && col("x").between(5, 25) && col("y").between(5, 25))) &&
        col("x").between(0.5, 30.5) && col("y").between(-10.5, 40.5))
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == want)
    // the bucket conjunct reaches the scan as a PARTITION filter
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val d = layer.windowViaCurve(0.5, -10.5, 30.5, 40.5).df
    d.collect()
    val plan = d.queryExecution.executedPlan match {
      case ad: AdaptiveSparkPlanExec => ad.executedPlan
      case pl => pl
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "__bucket"))),
      s"no __bucket partition filter in:\n$plan")
    // id-idempotency: re-upserting the SAME batch replaces rows in place —
    // count unchanged, window results unchanged
    val countAfterFirst = spark.read.parquet(p).count()
    assert(SpatialLayout.upsertClusteredBuckets(batch, p) == "partial")
    assert(spark.read.parquet(p).count() == countAfterFirst,
      "re-upserting an identical batch must not duplicate rows")
    // rebuild policy: a batch over the fraction triggers a full re-cluster;
    // the rebuild also merges by id, so the nb odds already inserted are
    // REPLACED, not duplicated — count = 4000 evens + 4000 odds exactly
    val big = pts.filter(col("k") % 2 === 1)
    assert(SpatialLayout.upsertClusteredBuckets(big, p) == "full")
    val total = spark.read.parquet(p).count()
    assert(total == 8000, s"full rebuild must dedupe by id, got $total")
  }

  test("bucketed layout records its bucketShift: non-default-shift layers window-read correctly") {
    val p = Files.createTempDirectory("graft-shift").toString + "/pts"
    val pts = earthPoints(4000)
    // a much finer split than the default 26 — with the old hardcoded shift
    // the bucket partition filter would prune away in-window directories
    SpatialLayout.writeClusteredBuckets(pts, p, bucketShift = 22)
    val recorded = SpatialLayout.readLayoutMeta(spark, p)
    assert(recorded.map(m => (m.indexType, m.bucketShift)).contains(("hilbert", 22)))
    val layer = GeoFrame.openClustered(spark, p)
    assert(layer.meta.get.bucketShift == 22)
    val got = layer.windowViaCurve(0.5, -10.5, 30.5, 40.5)
      .df.select("k").as[Long].collect().sorted.toSeq
    val want = pts.filter(col("x").between(0.5, 30.5) && col("y").between(-10.5, 40.5))
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == want, "window through a shift-22 layer must equal the plain filter")
    // the upsert path must also pick the recorded shift up from the sidecar
    // (passing nothing), and append must refuse to fork the keyspace
    val batch = pts.filter(col("k") % 17 === 3 && col("x").between(5, 25))
    assert(SpatialLayout.upsertClusteredBuckets(batch, p) == "partial")
    val again = GeoFrame.openClustered(spark, p)
      .windowViaCurve(0.5, -10.5, 30.5, 40.5)
      .df.select("k").as[Long].collect().sorted.toSeq
    assert(again == want, "post-upsert window must still equal the plain filter")
    assert(SpatialLayout.readLayoutMeta(spark, p).map(m => (m.indexType, m.bucketShift))
      .contains(("hilbert", 22)), "upsert must preserve the recorded layout")
  }

  test("append-then-compact: blind appends fragment, queries stay correct, compaction restores layout") {
    val p = Files.createTempDirectory("graft-append").toString + "/pts"
    val pts = earthPoints(6000)
    SpatialLayout.writeClusteredBuckets(pts.filter(col("k") % 3 === 0), p)
    SpatialLayout.appendClusteredBuckets(pts.filter(col("k") % 3 === 1), p)
    SpatialLayout.appendClusteredBuckets(pts.filter(col("k") % 3 === 2), p)
    val fragged = bucketDirState(p)
    assert(fragged.values.exists(_.size >= 3), s"appends did not fragment: $fragged")
    def windowHits = new GeoFrame(spark.read.parquet(p),
        Some(graft.engine.LayerMeta("a", GeomCodec.GTYPE_POINT,
          encoder = "point-xy", indexType = "hilbert")))
      .windowViaCurve(-20.5, -20.5, 20.5, 20.5)
      .df.select("k").as[Long].collect().sorted.toSeq
    val want = pts.filter(col("x").between(-20.5, 20.5) && col("y").between(-20.5, 20.5))
      .select("k").as[Long].collect().sorted.toSeq
    assert(windowHits == want)                       // correct while fragmented
    val n = SpatialLayout.compactBuckets(spark, p, maxFilesPerBucket = 1)
    assert(n > 0)
    val compacted = bucketDirState(p)
    assert(compacted.values.forall(_.size == 1), s"still fragmented: $compacted")
    assert(windowHits == want)                       // and correct after
    assert(spark.read.parquet(p).count() == 6000)
  }

  test("runtime Bloom filter from a selective dim side reaches the fact side") {
    // Spark's runtime row-filtering: a selective filter on one join side
    // builds a bloom filter at runtime and injects might_contain() on the
    // OTHER side — at 100 TB this is the difference between shuffling the
    // whole fact table and shuffling the ~0.1% that can possibly match.
    // Thresholds are sized for clusters, so force them down to observe it.
    val dir = Files.createTempDirectory("graft-bloom").toString
    spark.range(300000).select(col("id").cast("long").as("k"),
        (col("id") % 97).as("v"))
      .write.parquet(s"$dir/fact")
    spark.range(3000).select((col("id") * 100).cast("long").as("k2"),
        (col("id") % 10).as("grp"))
      .write.parquet(s"$dir/dim")
    withConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim").filter(col("grp") === 3)
      val joined = fact.join(dim, col("k") === col("k2"))
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and it is semantically invisible
      assert(rows.length == 300)   // k2 = 100*id, id%10==3, 100*id < 300000
    }
  }

  test("z-ordered table layout prunes range filters on BOTH columns at the scan") {
    val dir = Files.createTempDirectory("graft-zt").toString
    val t = spark.range(200000).select(col("id").cast("long").as("k"),
      (col("id") * 37 % 10000).cast("double").as("a"),
      (col("id") * 73 % 10000).cast("double").as("b"))
    SpatialLayout.writeZOrderedTable(t, s"$dir/z", "a", 0, 10000, "b", 0, 10000,
      numPartitions = 32)
    t.repartitionByRange(32, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$dir/s")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanned(path: String, pred: org.apache.spark.sql.Column): (Long, Seq[Long]) = {
      val d = spark.read.parquet(path).filter(pred)
      val ks = d.collect().map(_.getAs[Long]("k")).sorted.toSeq
      val plan = d.queryExecution.executedPlan match {
        case ad: AdaptiveSparkPlanExec => ad.executedPlan
        case p => p
      }
      val rows = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum
      (rows, ks)
    }
    // filter on the SECOND column only: the a-sorted layout cannot prune it,
    // the z-ordered layout still skips most row groups
    val bPred = col("b") >= 2000 && col("b") < 2500
    val (zScan, zRows) = scanned(s"$dir/z", bPred)
    val (sScan, sRows) = scanned(s"$dir/s", bPred)
    assert(zRows == sRows)                       // identical answers
    assert(zRows.nonEmpty)
    assert(sScan > 150000, s"a-sorted layout unexpectedly pruned b: $sScan")
    assert(zScan < 120000, s"z-order did not prune the b-only filter: $zScan")
    // conjunctive 2-D box: prunes to a small fraction
    val box = col("a") >= 1000 && col("a") < 1500 && bPred
    val (zBox, zBoxRows) = scanned(s"$dir/z", box)
    val (_, sBoxRows) = scanned(s"$dir/s", box)
    assert(zBoxRows == sBoxRows)
    assert(zBox < 60000, s"z-order did not prune the 2-D box: $zBox")
  }

  test("bucketed delete: removes ids, rewrites only containing buckets, drops emptied dirs") {
    val p = Files.createTempDirectory("graft-del").toString + "/pts"
    val pts = earthPoints(4000)
    SpatialLayout.writeClusteredBuckets(pts, p)
    val before = bucketDirState(p)
    // a localized clump: every k ≡ 190 (mod 360) maps to the same (x, y),
    // hence the same curve bucket
    val clump = pts.filter(col("x") === 10.5)
      .select("id").as[String].collect().toSeq
    assert(clump.nonEmpty)
    val deleted = SpatialLayout.deleteFromClusteredBuckets(spark, p, clump)
    assert(deleted == clump.size)
    val after = bucketDirState(p)
    val changed = after.keySet.union(before.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty && changed.size < before.size,
      s"delete rewrote every bucket: $changed of ${before.size}")
    val remaining = spark.read.parquet(p)
    assert(remaining.count() == 4000 - clump.size)
    assert(remaining.filter(col("id").isin(clump: _*)).count() == 0)
    // deleting EVERY row of some bucket drops its directory entirely
    val all = spark.read.parquet(p)
    val oneBucket = all.select("__bucket").head().getInt(0)
    val bucketIds = all.filter(col("__bucket") === oneBucket)
      .select("id").as[String].collect().toSeq
    SpatialLayout.deleteFromClusteredBuckets(spark, p, bucketIds)
    assert(!bucketDirState(p).contains(s"__bucket=$oneBucket"))
    assert(spark.read.parquet(p).count() == 4000 - clump.size - bucketIds.size)
    // deleting unknown ids is a no-op
    assert(SpatialLayout.deleteFromClusteredBuckets(spark, p, Seq("nope")) == 0L)
  }

  test("streaming upsert into a bucketed layer: per-microbatch merge, idempotent ids") {
    val dir = Files.createTempDirectory("graft-supsert").toString
    val srcDir = s"$dir/in"; val layerDir = s"$dir/layer"; val ckpt = s"$dir/ckpt"
    val pts = earthPoints(2000).select(col("k"), col("x"), col("y"))
    // two source files -> two microbatches (maxFilesPerTrigger=1); the id
    // ranges OVERLAP by 100, which the merge must not double-insert
    pts.filter(col("k") < 1000).coalesce(1).write.parquet(srcDir)
    pts.filter(col("k") >= 900 && col("k") < 1900).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = PointStream.upsertToClusteredLayer(
      PointStream.canonicalize(stream, "k", "x", "y"), layerDir, ckpt)
    awaitAndStop(q, 120000)
    val out = spark.read.parquet(layerDir)
    assert(out.count() == 1900)                      // overlap merged once
    assert(out.select("id").distinct().count() == 1900)
    // the streamed layer answers curve-pruned window queries like any other
    val got = new GeoFrame(out,
        Some(graft.engine.LayerMeta("s", GeomCodec.GTYPE_POINT,
          encoder = "point-xy", indexType = "hilbert")))
      .windowViaCurve(-30.5, -30.5, 30.5, 30.5)
      .df.select(col("id").cast("long")).as[Long].collect().sorted.toSeq
    val want = pts.filter(col("k") < 1900 &&
        col("x").between(-30.5, 30.5) && col("y").between(-30.5, 30.5))
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == want)
  }
}
