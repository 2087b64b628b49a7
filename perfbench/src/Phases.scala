package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GeoFrame, SpatialJoin, SpatialProcedures}
import graft.functions.st
import graft.pipeline.{Graphs, PageRank}
import graft.plans.SpatialLayout

/** Input sizes. `default` is what a benchmark run uses; `tiny` is the self-check's. */
final case class Sizes(
    lookupPoints: Int, lookupPolys: Int,
    churnBase: Int, upsertRows: Int, appendRows: Int, deleteIds: Int,
    joinPoints: Int, apiPolys: Int, sqlPolys: Int,
    nodes: Int, edges: Int, kcoreK: Int)

object Sizes {
  val default = Sizes(
    lookupPoints = 40000, lookupPolys = 2000,
    churnBase = 20000, upsertRows = 400, appendRows = 400, deleteIds = 50,
    joinPoints = 15000, apiPolys = 400, sqlPolys = 2500,
    nodes = 4000, edges = 16000, kcoreK = 5)
  val tiny = Sizes(
    lookupPoints = 4000, lookupPolys = 300,
    churnBase = 3000, upsertRows = 60, appendRows = 60, deleteIds = 20,
    joinPoints = 2000, apiPolys = 40, sqlPolys = 200,
    nodes = 300, edges = 1500, kcoreK = 4)
}

/** One workload's operations. `setup` generates the inputs from the seed
  * and writes the initial layers (timed as set-up); `prepare` builds the
  * in-process checkers (untimed); `warm` runs each operation kind once
  * without keeping its latency; `run` measures until a deadline.
  */
trait Phase {
  def name: String
  /** The operation kinds of the measured mix. */
  def kinds: Seq[String]
  /** The generated inputs, for the self-check's same-seed comparison. */
  def inputs: Seq[Any]
  def setup(dir: String): Unit
  def prepare(): Unit
  def warm(h: Harness): Unit
  def run(h: Harness, deadlineNs: Long): Unit
  /** Bytes on disk of the workload's layers per row they hold. */
  def bytesPerRow: Double
  /** Per-kind figures (name, value, unit), written to the run's result file. */
  def kindMetrics(h: Harness): Seq[(String, Double, String)]
}

object Frames {
  def pointRows(spark: SparkSession, ids: Seq[String], xs: Seq[Double], ys: Seq[Double],
      vs: Seq[Long]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids.indices.map(i => (ids(i), xs(i), ys(i), vs(i))), 8)
      .toDF("id", "x", "y", "v")
  }

  /** The engine's canonical point-layer schema, built with its column functions. */
  def canonicalPoints(df: DataFrame): DataFrame =
    df.withColumn("geometry", st.makePoint(col("x"), col("y")))
      .withColumn("gtype", lit(graft.geom.GeomCodec.GTYPE_POINT))
      .withColumn("bbox", st.bboxStruct(col("x"), col("y"), col("x"), col("y")))
      .select("id", "geometry", "gtype", "bbox", "x", "y", "v")

  def canonicalPolys(spark: SparkSession, p: Gen.Polys): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(p.ids.indices.map(i => (p.ids(i), p.wkts(i))), 8)
      .toDF("id", "wkt")
      .withColumn("geometry", st.geomFromText(col("wkt")))
      .withColumn("gtype", st.gtype(col("geometry")))
      .withColumn("bbox", st.bboxOf(col("geometry")))
      .select("id", "geometry", "gtype", "bbox")
  }

  /** Part files under a layer directory: relative path → bytes. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }
}

// ---------------------------------------------------------------- lookup

/** `spatial.bbox / withinDistance / intersects`, the curve window and kNN
  * against a Hilbert-clustered point layer and a small-polygon layer.
  * Half the query centres fall on hot spots, half uniformly.
  */
final class LookupPhase(spark: SparkSession, seed: Long, sz: Sizes) extends Phase {
  val name = "lookup"
  val kinds = Seq("window", "bbox", "dwithin", "knn", "intersects")
  private var warehouse: String = _
  private var pts: Gen.Points = _
  private var polys: Gen.Polys = _
  private var spots: Array[Gen.Spot] = _
  private var procs: SpatialProcedures = _
  private var pointOracle: Oracle.StaticPoints = _
  private var polyOracle: Oracle.PolyIndex = _
  private val qr = Gen.rng(seed, 10)
  private var order: List[String] = Nil

  def inputs: Seq[Any] = Seq(pts, polys)

  def setup(dir: String): Unit = {
    spots = Gen.spots(Gen.rng(seed, 1))
    pts = Gen.points(Gen.rng(seed, 2), spots, sz.lookupPoints, "p")
    polys = Gen.polys(Gen.rng(seed, 3), spots, sz.lookupPolys, "g", 0.05, 0.3)
    warehouse = s"$dir/warehouse"
    procs = new SpatialProcedures(spark, warehouse)
    procs.catalog.createPointLayer("pts",
      Frames.pointRows(spark, pts.ids, pts.xs, pts.ys, pts.ids.map(_ => 0L)).drop("v"),
      "id", "x", "y", "hilbert")
    procs.addWKTLayer("polys", spark.createDataFrame(polys.ids.zip(polys.wkts).toSeq)
      .toDF("id", "wkt").repartition(8), "id", "wkt")
  }

  def prepare(): Unit = {
    pointOracle = new Oracle.StaticPoints(pts)
    polyOracle = new Oracle.PolyIndex(polys)
  }

  private def centre(): (Double, Double) =
    if (qr.nextBoolean()) Gen.location(qr, spots, 1.0)
    else (qr.nextDouble(-179, 179), qr.nextDouble(-80, 80))

  /** A window of 0.5–1.5° whose lower-left corner is snapped onto a stored
    * point when one is near, so boundary rows exist in the answer.
    */
  private def window(): (Double, Double, Double, Double) = {
    val (x, y) = centre()
    val w = qr.nextDouble(0.5, 1.5)
    val (x0, y0) = pointOracle.near(x - w / 2, y - w / 2)
      .getOrElse((Gen.round5(x - w / 2), Gen.round5(y - w / 2)))
    (x0, y0, Gen.round5(x0 + w), Gen.round5(y0 + w))
  }

  private def ids(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.getAs[String]("id"))

  private def sameSet(kind: String, got: Seq[String], want: Set[String]): Option[String] =
    if (got.size != got.toSet.size) Some(s"$kind returned duplicate rows")
    else if (got.toSet == want) None
    else Some(s"$kind: ${got.size} rows, expected ${want.size}; " +
      s"missing ${(want -- got).take(3).mkString(",")} extra ${(got.toSet -- want).take(3).mkString(",")}")

  def one(h: Harness, kind: String, record: Boolean = true): Unit = kind match {
    case "window" =>
      val (a, b, c, d) = window()
      h.op(kind, "engine", record)(procs.layer("pts").windowViaCurve(a, b, c, d).df)(h.consume)(
        rows => sameSet(kind, ids(rows), pointOracle.intersectsWindow(a, b, c, d)))
      h.tracer.foreach { _ =>
        val t0 = System.nanoTime()
        val ranges = SpatialLayout.hilbertRangesForWindow(a, b, c, d)
        h.count("plans.curve_ranges_ms", (System.nanoTime() - t0) / 1e6)
        h.count("plans.curve_ranges", ranges.size)
      }
    case "bbox" =>
      val (a, b, c, d) = window()
      h.op(kind, "engine", record)(procs.bbox("pts", a, b, c, d))(h.consume)(
        rows => sameSet(kind, ids(rows), pointOracle.withinWindow(a, b, c, d)))
    case "dwithin" =>
      val (x, y) = centre()
      val (lon, lat, km) = (Gen.round5(x), Gen.round5(y), 60.0)
      h.op(kind, "engine", record)(procs.withinDistance("pts", lon, lat, km))(h.consume) { rows =>
        val got = rows.toSeq.map(r => r.getAs[String]("id") -> r.getAs[Double]("distance"))
        val want = pointOracle.withinDistance(lon, lat, km)
        val sorted = got.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1))
        if (!sorted) Some("dwithin rows are not ordered by distance")
        else if (got.toMap != want || got.size != want.size)
          Some(s"dwithin: ${got.size} rows, expected ${want.size}")
        else None
      }
    case "knn" =>
      val (x, y) = centre()
      val (lon, lat, k) = (Gen.round5(x), Gen.round5(y), 10)
      h.op(kind, "engine", record)(procs.layer("pts").knnCandidates(lon, lat, k).df)(
        df => h.consume(df.orderBy(col("distance"), col("id")).limit(k))) { rows =>
        val got = rows.toSeq.map(r => r.getAs[String]("id") -> r.getAs[Double]("distance"))
        val want = pointOracle.nearest(lon, lat, k)
        if (got == want) None else Some(s"knn: got ${got.take(3)} expected ${want.take(3)}")
      }
    case "intersects" =>
      val (x, y) = centre()
      val wkt = Gen.polygonWkt(qr, x, y, qr.nextDouble(0.5, 1.0), 12)
      h.op(kind, "engine", record)(procs.intersects("polys", wkt))(h.consume)(
        rows => sameSet(kind, ids(rows), polyOracle.intersecting(new org.locationtech.jts.io.WKTReader().read(wkt))))
  }

  /** Kinds in shuffled blocks of five, so every kind gets the same share. */
  private def nextKind(): String = {
    if (order.isEmpty) {
      val a = kinds.toArray
      for (i <- a.indices.reverse) { val j = qr.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      order = a.toList
    }
    val k = order.head; order = order.tail; k
  }

  /** A window operation whose answer is corrupted before the check (self-check). */
  def tampered(h: Harness): Unit = {
    val (a, b, c, d) = window()
    h.op("tampered", "engine")(procs.layer("pts").windowViaCurve(a, b, c, d).df)(h.consume)(
      rows => sameSet("tampered", ids(rows) :+ "not-an-id", pointOracle.intersectsWindow(a, b, c, d)))
  }

  def warm(h: Harness): Unit = (1 to 2).foreach(_ => kinds.foreach(k => one(h, k, record = false)))
  def run(h: Harness, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) one(h, nextKind())

  def bytesPerRow: Double =
    Frames.files(warehouse).values.sum.toDouble / (pts.size + polys.ids.length)

  def kindMetrics(h: Harness): Seq[(String, Double, String)] = {
    val all = kinds.flatMap(k => h.samples.getOrElse(k, Nil))
    kinds.map(k => (s"lookup_${k}_p50_ms", Stats.median(h.samples.getOrElse(k, Nil).toSeq), "ms")) :+
      (("lookup_p95_ms", Stats.quantile(all, 0.95), "ms"))
  }
}

// ----------------------------------------------------------------- churn

/** Writes beside reads on one bucketed point layer: upserts (partial
  * path), blind appends and deletes, each followed by a read-your-writes
  * curve-window read, with `compactBuckets` after every cycle of six writes.
  */
final class ChurnPhase(spark: SparkSession, seed: Long, sz: Sizes) extends Phase {
  val name = "churn"
  val Writes = Seq("upsert", "append", "delete")
  val kinds = Writes :+ "read"
  private var spots: Array[Gen.Spot] = _
  private var base: Gen.Points = _
  private var path: String = _
  private val model = new Oracle.LivePoints
  private val live = mutable.ArrayBuffer.empty[String]
  private val livePos = mutable.HashMap.empty[String, Int]
  private val r = Gen.rng(seed, 21)
  private var nextId = 0
  private var cycle: List[String] = Nil

  def inputs: Seq[Any] = Seq(base)

  def setup(dir: String): Unit = {
    spots = Gen.spots(Gen.rng(seed, 1))
    base = Gen.points(Gen.rng(seed, 20), spots, sz.churnBase, "c")
    path = s"$dir/churn"
    SpatialLayout.writeClusteredBuckets(Frames.canonicalPoints(
      Frames.pointRows(spark, base.ids, base.xs, base.ys, base.ids.map(_ => 0L))), path)
  }

  private def addLive(id: String, x: Double, y: Double, v: Long): Unit = {
    if (!livePos.contains(id)) { livePos(id) = live.size; live += id }
    model.put(id, x, y, v)
  }
  private def removeLive(id: String): Unit = livePos.remove(id).foreach { at =>
    val last = live.remove(live.size - 1)
    if (last != id) { live(at) = last; livePos(last) = at }
    model.remove(id)
  }

  def prepare(): Unit = {
    base.ids.indices.foreach(i => addLive(base.ids(i), base.xs(i), base.ys(i), 0L))
    nextId = base.size
  }

  private def sampleLive(n: Int): Seq[String] = {
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < math.min(n, live.size)) picked += live(r.nextInt(live.size))
    picked.toSeq
  }

  private def freshRows(n: Int): Seq[(String, Double, Double, Long)] = Seq.fill(n) {
    val (x, y) = Gen.location(r, spots, 0.7)
    nextId += 1
    (f"c${nextId - 1}%08d", Gen.round5(x), Gen.round5(y), 0L)
  }

  private def frame(rows: Seq[(String, Double, Double, Long)]): DataFrame =
    Frames.canonicalPoints(Frames.pointRows(spark, rows.map(_._1), rows.map(_._2),
      rows.map(_._3), rows.map(_._4)))

  private def bytes(fs: Map[String, Long]) = fs.values.sum.toDouble
  private def bucketOf(f: String) = f.takeWhile(_ != '/')

  /** Runs a write; a traced run also records which part files it added. */
  private def traced(h: Harness, kind: String, batchRows: Int)(write: => Unit): Unit = {
    val before = if (h.tracer.isDefined) Frames.files(path) else Map.empty[String, Long]
    write
    h.tracer.foreach { _ =>
      val after = Frames.files(path)
      val added = after.filter { case (f, _) => !before.contains(f) }
      val perRow = bytes(before) / math.max(1, model.rows.size)
      h.count("plans.buckets_rewritten", added.keys.map(bucketOf).toSet.size)
      h.count("plans.bytes_written", bytes(added))
      h.count("plans.write_amplification", bytes(added) / math.max(1.0, batchRows * perRow))
      val perBucket = after.keys.groupBy(bucketOf).values.map(_.size)
      h.count("plans.files_per_bucket_max", if (perBucket.isEmpty) 0 else perBucket.max)
      h.count("plans.files_per_bucket_mean",
        if (perBucket.isEmpty) 0 else perBucket.sum.toDouble / perBucket.size)
    }
  }

  def write(h: Harness, kind: String, record: Boolean = true): Unit = kind match {
    case "upsert" =>
      val updated = sampleLive(sz.upsertRows / 2).map { id =>
        val (x, y, v) = model.rows(id); (id, x, y, v + 1) }
      val rows = updated ++ freshRows(sz.upsertRows - updated.size)
      val df = frame(rows)
      traced(h, kind, rows.size) {
        h.op(kind, "plans", record)(SpatialLayout.upsertClusteredBuckets(df, path))(identity) { mode =>
          if (mode == "partial") None else Some(s"upsert of ${rows.size} rows took the '$mode' path")
        }
      }
      rows.foreach { case (id, x, y, v) => addLive(id, x, y, v) }
    case "append" =>
      val rows = freshRows(sz.appendRows)
      val df = frame(rows)
      traced(h, kind, rows.size) {
        h.op(kind, "plans", record)(SpatialLayout.appendClusteredBuckets(df, path))(identity)(_ => None)
      }
      rows.foreach { case (id, x, y, v) => addLive(id, x, y, v) }
    case "delete" =>
      val ids = sampleLive(sz.deleteIds)
      traced(h, kind, ids.size) {
        h.op(kind, "plans", record)(SpatialLayout.deleteFromClusteredBuckets(spark, path, ids))(identity) { n =>
          if (n == ids.size) None else Some(s"delete of ${ids.size} ids removed $n rows")
        }
      }
      ids.foreach(removeLive)
  }

  def read(h: Harness, record: Boolean = true): Unit = {
    val (x, y) =
      if (r.nextBoolean() && live.nonEmpty) { val p = model.rows(live(r.nextInt(live.size))); (p._1, p._2) }
      else (r.nextDouble(-179, 179), r.nextDouble(-80, 80))
    val w = r.nextDouble(0.5, 1.5)
    val (a, b, c, d) = (Gen.round5(x - w / 2), Gen.round5(y - w / 2), Gen.round5(x + w / 2), Gen.round5(y + w / 2))
    h.op("read", "engine", record)(GeoFrame.openClustered(spark, path).windowViaCurve(a, b, c, d).df)(
      h.consume) { rows =>
      val got = rows.toSeq.map(r => r.getAs[String]("id") ->
        ((r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[Long]("v"))))
      val want = model.window(a, b, c, d)
      if (got.size == want.size && got.toMap == want) None
      else Some(s"read-your-writes window: ${got.size} rows, expected ${want.size}")
    }
  }

  def compact(h: Harness, record: Boolean = true): Unit = {
    val before = Frames.files(path)
    h.op("compact", "plans", record)(SpatialLayout.compactBuckets(spark, path, 4))(identity) { _ =>
      val perBucket = Frames.files(path).keys.groupBy(bucketOf).values.map(_.size)
      if (perBucket.forall(_ <= 4)) None else Some(s"a bucket still holds ${perBucket.max} files after compaction")
    }
    h.tracer.foreach { _ =>
      h.count("plans.compact_bytes", bytes(Frames.files(path).filter { case (f, _) => !before.contains(f) }))
    }
  }

  private def cycleStep(h: Harness, record: Boolean = true): Unit = {
    if (cycle.isEmpty) cycle = (1 to 2).toList.flatMap { _ =>
      val a = Writes.toArray
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toList
    }
    write(h, cycle.head, record); read(h, record)
    cycle = cycle.tail
    if (cycle.isEmpty) compact(h, record)
  }

  /** The first half-cycle: each write kind once, each followed by a read. */
  def warm(h: Harness): Unit = (1 to 3).foreach(_ => cycleStep(h, record = false))
  def run(h: Harness, deadlineNs: Long): Unit = {
    while (System.nanoTime() < deadlineNs) cycleStep(h)
    while (cycle.nonEmpty) cycleStep(h)  // end on a whole cycle, compacted
  }

  /** Whole-layer comparison against the model, outside any timed window. */
  def finalCheck(h: Harness): Unit =
    h.op("churn_final", "engine", record = false)(spark.read.parquet(path).select("id", "v"))(
      df => df.collect()) { rows =>
      val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      if (rows.length == model.rows.size && got == model.rows.map { case (k, v) => k -> v._3 }) None
      else Some(s"layer holds ${rows.length} rows, expected ${model.rows.size}")
    }

  def bytesPerRow: Double = bytes(Frames.files(path)) / math.max(1, model.rows.size)

  def kindMetrics(h: Harness): Seq[(String, Double, String)] =
    kinds.map(k => (s"churn_${k}_p50_ms", Stats.median(h.samples.getOrElse(k, Nil).toSeq), "ms")) :+
      (("churn_bytes_per_row", bytesPerRow, "B"))
}

// ----------------------------------------------------------------- batch

/** Four one-shot jobs, each consumed in full: the API spatial join (auto
  * pick), the SQL `JOIN ... ON st_intersects` through the optimizer rule,
  * PageRank (lazy loop) and k-core peeling (checkpointed loop).
  */
final class BatchPhase(spark: SparkSession, seed: Long, sz: Sizes) extends Phase {
  val name = "batch"
  val kinds = Seq("join_api", "join_sql", "pagerank", "kcore")
  val Iters = 3
  val Rounds = 4
  private var pts: Gen.Points = _
  private var apiPolys: Gen.Polys = _
  private var sqlPolys: Gen.Polys = _
  private var graph: Gen.Edges = _
  private var dir: String = _
  private var want: Map[String, Any] = Map.empty

  def inputs: Seq[Any] = Seq(pts, apiPolys, sqlPolys, graph)
  def edgesPath: String = s"$dir/edges"

  def setup(d: String): Unit = {
    dir = d
    val spots = Gen.spots(Gen.rng(seed, 1))
    pts = Gen.points(Gen.rng(seed, 30), spots, sz.joinPoints, "a")
    apiPolys = Gen.polys(Gen.rng(seed, 31), spots, sz.apiPolys, "A", 0.2, 1.0)
    sqlPolys = Gen.polys(Gen.rng(seed, 33), spots, sz.sqlPolys, "S", 0.05, 0.3)
    graph = Gen.graph(Gen.rng(seed, 34), sz.nodes, sz.edges)
    import spark.implicits._
    Frames.canonicalPoints(Frames.pointRows(spark, pts.ids, pts.xs, pts.ys, pts.ids.map(_ => 0L)))
      .drop("v").write.mode("overwrite").parquet(s"$dir/pts")
    Frames.canonicalPolys(spark, apiPolys).write.mode("overwrite").parquet(s"$dir/api_polys")
    Frames.canonicalPolys(spark, sqlPolys).write.mode("overwrite").parquet(s"$dir/sql_polys")
    spark.sparkContext.parallelize(graph.src.zip(graph.dst).toSeq, 8).toDF("src", "dst")
      .write.mode("overwrite").parquet(s"$dir/edges")
    graft.functions.SpatialFunctions.register(spark)
    spark.read.parquet(s"$dir/pts").createOrReplaceTempView("pts")
    spark.read.parquet(s"$dir/sql_polys").createOrReplaceTempView("sql_polys")
  }

  def prepare(): Unit = want = Map(
    "join_api" -> new Oracle.PolyIndex(apiPolys).pointCounts(pts),
    "join_sql" -> new Oracle.PolyIndex(sqlPolys).pointCounts(pts),
    "pagerank" -> Oracle.pageRank(graph, Iters),
    "kcore" -> Oracle.kcore(Gen.symmetric(graph), sz.kcoreK, Rounds))

  private def counts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sameCounts(job: String, got: Map[String, Long]): Option[String] = {
    val w = want(job).asInstanceOf[Map[String, Long]]
    if (got == w) None
    else Some(s"$job: ${got.size} polygons with matches, expected ${w.size}; " +
      s"first difference ${(w.keySet ++ got.keySet).find(k => got.get(k) != w.get(k))}")
  }

  /** Candidate pairs a plan tests per result pair: |L|·|R| under a nested
    * loop; under a cell equi-join, Σ over cells of |L_c|·|R_c| for the cell
    * size the plan used (only evaluated on that path).
    */
  private def pairTests(h: Harness, pts: Gen.Points, polys: Gen.Polys, results: Long, cell: => Double): Unit =
    h.tracer.foreach { t =>
      val plan = t.frames(t.op).queryExecution.executedPlan
      val loops = Plans.nestedLoops(plan)
      h.count("engine.join_strategy", if (loops.nonEmpty) 1 else 2)
      val tests =
        if (loops.nonEmpty) loops.map(j => Plans.rowsOut(j.children(0)).toDouble * Plans.rowsOut(j.children(1))).sum
        else {
          val reader = new org.locationtech.jts.io.WKTReader()
          val cells = mutable.HashMap.empty[(Long, Long), Long]
          polys.wkts.foreach { w =>
            val e = reader.read(w).getEnvelopeInternal
            for (a <- math.floor(e.getMinX / cell).toLong to math.floor(e.getMaxX / cell).toLong;
                 b <- math.floor(e.getMinY / cell).toLong to math.floor(e.getMaxY / cell).toLong)
              cells((a, b)) = cells.getOrElse((a, b), 0L) + 1
          }
          pts.xs.indices.map(i => cells.getOrElse(
            (math.floor(pts.xs(i) / cell).toLong, math.floor(pts.ys(i) / cell).toLong), 0L).toDouble).sum
        }
      h.count("engine.pair_tests_per_result", tests / math.max(1L, results))
    }

  private def pipelineShape(h: Harness): Unit = h.tracer.foreach { t =>
    val plan = t.frames(t.op).queryExecution.executedPlan
    h.count("pipeline.plan_nodes", Plans.nodes(plan).size)
    h.count("pipeline.exchanges", Plans.exchanges(plan))
  }

  def job(h: Harness, name: String, record: Boolean = true): Unit = name match {
    case "join_api" =>
      h.op(name, "engine", record)(SpatialJoin.join(spark.read.parquet(s"$dir/pts"),
        spark.read.parquet(s"$dir/api_polys"), "intersects"))(
        df => h.consume(df.groupBy(col("r_id")).agg(count(lit(1)).as("n")))) { rows =>
        sameCounts(name, counts(rows))
      }.foreach(rows => pairTests(h, pts, apiPolys, counts(rows).values.sum,
        SpatialJoin.suggestCellSize(spark.read.parquet(s"$dir/pts"), spark.read.parquet(s"$dir/api_polys"))))
    case "join_sql" =>
      h.op(name, "plans", record)(spark.sql(
        """SELECT b.id, count(*) AS n FROM pts p JOIN sql_polys b
          |ON st_intersects(p.geometry, b.geometry) GROUP BY b.id""".stripMargin))(h.consume) { rows =>
        sameCounts(name, counts(rows))
      }.foreach(rows => pairTests(h, pts, sqlPolys, counts(rows).values.sum,
        spark.conf.get("spark.graft.sqlJoin.cellSize", "10.0").toDouble))
    case "pagerank" =>
      h.op(name, "pipeline", record)(PageRank.pageRank(spark.read.parquet(s"$dir/edges"), Iters))(
        h.consume) { rows =>
        val got = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val w = want(name).asInstanceOf[Map[Long, Double]]
        // summation order across partitions can move a value across one
        // 12-decimal rounding boundary; anything larger is a wrong rank
        val bad = w.find { case (n, v) => got.get(n).forall(g => math.abs(g - v) > 1e-10) }
        if (got.size != w.size) Some(s"pagerank: ${got.size} nodes, expected ${w.size}")
        else bad.map { case (n, v) => s"pagerank: node $n rank ${got.get(n)} expected $v" }
      }.foreach(_ => pipelineShape(h))
    case "kcore" =>
      // the caller symmetrizes the directed graph; kcorePeel drops duplicates
      val e = spark.read.parquet(s"$dir/edges")
      h.op(name, "pipeline", record)(Graphs.kcorePeel(e.union(e.select(col("dst"), col("src"))),
        sz.kcoreK, Rounds))(h.consume) { rows =>
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (got == want(name)) None
        else Some(s"kcore: ${got.size} surviving nodes, expected ${want(name).asInstanceOf[Map[Long, Long]].size}")
      }.foreach(_ => pipelineShape(h))
  }

  /** Two unrecorded passes: the first compiles every job's code, the second lets the JIT settle. */
  def warm(h: Harness): Unit = (1 to 2).foreach(_ => kinds.foreach(j => job(h, j, record = false)))
  def run(h: Harness, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) kinds.foreach(j => job(h, j))

  def bytesPerRow: Double =
    Frames.files(dir).values.sum.toDouble /
      (pts.size + apiPolys.ids.length + sqlPolys.ids.length + graph.src.length)

  def kindMetrics(h: Harness): Seq[(String, Double, String)] =
    kinds.map(j => (s"${j}_s", Stats.median(h.samples.getOrElse(j, Nil).toSeq) / 1000, "s"))
}
