package graft.engine

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint}
import org.apache.spark.sql.functions._

import graft.functions.st

/** Distributed spatial join: `left JOIN right ON ST_pred(l.geometry, r.geometry)`.
  *
  * The reference only has the degenerate one-query-geometry case (every
  * start*Search factory) plus one true join exercised in tests
  * (reference: server-plugin test TestIntersectsPathQueries.java:65 —
  * point-set vs route geometries). This generalizes both, Spark-first, as
  * ONE dataflow ([[build]]) behind both entry points: the DataFrame API
  * below and the SQL rule [[graft.plans.StJoinRule]]. It joins a PRESERVED
  * side with a PROBE side:
  *
  *  - INNER with a small probe side → broadcast nested loop on precomputed
  *    bboxes, the exact JTS predicate only on bbox survivors. One scan,
  *    zero shuffle of the big side. "Small" is one decision for both entry
  *    points: Catalyst's size estimate of the probe side (free — file
  *    metadata for scans) is at most `spark.graft.sqlJoin.broadcastBytes`
  *    (default 256 KiB; 0 pins the grid).
  *  - otherwise INNER → PBSM-style grid join: both sides replicate to the
  *    grid cells their bbox overlaps, equi-shuffle on cell (co-located,
  *    bounded skew via cell sizing), candidate pairs deduplicated by the
  *    reference-point technique (a pair counts only in the cell containing
  *    the min corner of the bbox intersection), then bbox + exact refine.
  *    Scales linearly with data per cell — the standard 100 TB spatial-join
  *    shape. Rows over [[MaxCellsPerRow]] cells are split off (see [[grid]]).
  *  - LEFT OUTER / LEFT SEMI / LEFT ANTI → the same grid as a left-outer
  *    cell join in ONE pass: a window over a per-row tag classifies each
  *    preserved row as matched or unmatched and picks one representative
  *    copy, so nothing is joined back and nothing materializes (reference
  *    workflow analog: every removeNodes-style flow,
  *    SpatialProcedures.java:679-718, is a spatial anti-join).
  *
  * Geometry columns are WKB. API inputs must carry the canonical `bbox`
  * struct (cheap to derive via st.bboxOf otherwise); the SQL rule derives
  * it from the geometry.
  */
object SpatialJoin {

  /** One join input: its rows and its geometry's bbox struct. */
  private[graft] final case class Side(df: DataFrame, bbox: Column)

  /** The spatial-join dataflow both entry points share: `p` is preserved,
    * `q` probed, `exact` is the predicate oriented (p, q). `dist` dilates
    * q's bbox for a distance join; `rest` holds further ON-clause conjuncts
    * (they decide matching). The result has p's columns then q's — p's
    * only for semi/anti — in input order. `cellSize` is only read when
    * gridding.
    */
  private[graft] def build(p: Side, q: Side, exact: Column, semantics: JoinType,
      cellSize: => Double, dist: Option[Double] = None,
      rest: Option[Column] = None): DataFrame = {
    val bcastBytes = q.df.sparkSession.conf
      .get("spark.graft.sqlJoin.broadcastBytes", (256L << 10).toString).toLong
    val cond = rest.fold(exact)(exact && _)
    if (semantics == Inner && q.df.queryExecution.analyzed.stats.sizeInBytes <= bcastBytes)
      broadcastInner(p, q, cond, dist)
    else grid(p, q, cond, semantics, cellSize, dist)
  }

  /** `joined` cut back to p's columns then q's (none when `qFrom` is
    * None). Picked BY POSITION — a side frame is its input's columns then
    * the dataflow's own, and in the SQL rule both sides may hold columns
    * of the same name.
    */
  private def originals(joined: DataFrame, p: Side, q: Side, qFrom: Option[Int]): DataFrame = {
    val o = joined.queryExecution.analyzed.output
    val cols = o.take(p.df.columns.length) ++
      qFrom.fold(Seq.empty[org.apache.spark.sql.catalyst.expressions.Attribute])(
        i => o.slice(i, i + q.df.columns.length))
    joined.select(cols.map(GraftColumnBridge.column): _*)
  }

  /** `df` plus bbox `b` as column `name`, computed once per row and
    * dilated by `dist` when given (a distance join: cell coverage, the bbox
    * test and reference-point dedup then all see "bbox-distance ≤ d"
    * pairs, a superset of the exact predicate). A one-row generator makes
    * the column, not a projection: Catalyst pushes filters on a projected
    * column below the projection by copying its expression — on the SQL
    * path a geometry-decoding UDF — into every reference.
    */
  private def withBox(df: DataFrame, name: String, b: Column,
      dist: Option[Double] = None): DataFrame = {
    val boxed = df.withColumn(name, explode(array(b)))
    val c = col(name)
    dist.fold(boxed)(d => boxed.withColumn(name, struct(
      (c("minx") - d).as("minx"), (c("miny") - d).as("miny"),
      (c("maxx") + d).as("maxx"), (c("maxy") + d).as("maxy"))))
  }

  private val (lb, rb) = (col("__g_lb"), col("__g_rb"))

  /** bbox overlap (short-circuit arithmetic on the precomputed boxes),
    * then `cond` on the survivors only.
    */
  private def byBox(cond: Column): Column =
    lb("minx") <= rb("maxx") && rb("minx") <= lb("maxx") &&
    lb("miny") <= rb("maxy") && rb("miny") <= lb("maxy") && cond

  /** `a` joined to `b` as a broadcast nested loop, `b` broadcast (`a` when
    * `buildLeft`). The hint sits on the Join itself: a broadcast() hint
    * node the SQL rule injected would come after hint elimination.
    */
  private def nestedLoop(a: DataFrame, b: DataFrame, cond: Column, how: JoinType,
      buildLeft: Boolean = false): DataFrame = {
    val bcast = Some(HintInfo(strategy = Some(BROADCAST)))
    a.join(b, cond, how.sql.toLowerCase.replace(' ', '_')).queryExecution.analyzed match {
      case j: Join => GraftColumnBridge.ofRows(a.sparkSession,
        j.copy(hint = if (buildLeft) JoinHint(bcast, None) else JoinHint(None, bcast)))
      case other => throw new IllegalStateException(s"expected a join, got ${other.nodeName}")
    }
  }

  /** Broadcast branch: bboxes are PRE-COMPUTED row columns (one evaluation
    * per row), so the nested-loop condition is pure short-circuit bbox
    * arithmetic per pair, and `cond` runs only on bbox survivors.
    */
  private def broadcastInner(p: Side, q: Side, cond: Column, dist: Option[Double]): DataFrame = {
    val pb = withBox(p.df, "__g_lb", p.bbox)
    originals(nestedLoop(pb, withBox(q.df, "__g_rb", q.bbox, dist), byBox(cond), Inner),
      p, q, Some(pb.columns.length))
  }

  /** Cap on grid-cell replication per row. A geometry whose bbox spans more
    * cells than this (relative to cellSize — auto-sizing uses the MEAN
    * extent, so a single continent-sized geometry can exceed it arbitrarily)
    * would explode unboundedly and OOM an executor; such rows are few by
    * construction and join through broadcast nested loops instead.
    */
  val MaxCellsPerRow = 256L

  /** True when bbox `b` covers more than MaxCellsPerRow cells (false for a
    * null bbox). The span test comes first so the cell counts cannot
    * overflow.
    */
  private def oversized(b: Column, cellSize: Double): Column = {
    def cells(lo: String, hi: String) = floor(b(hi) / cellSize) - floor(b(lo) / cellSize) + 1
    coalesce(greatest(b("maxx") - b("minx"), b("maxy") - b("miny")) / cellSize >= MaxCellsPerRow ||
      cells("minx", "maxx") * cells("miny", "maxy") > MaxCellsPerRow, lit(false))
  }

  /** `df`, which carries its bbox as column `<s>b`, with one row per grid
    * cell the bbox covers: columns `<s>cx`, `<s>cy`. Outer explodes keep a
    * null-bbox row (it surfaces as unmatched).
    */
  private def cells(df: DataFrame, cellSize: Double, s: String, outer: Boolean): DataFrame = {
    val gen: Column => Column = if (outer) explode_outer else explode
    val b = col(s + "b")
    def axis(lo: String, hi: String) = sequence(floor(b(lo) / cellSize), floor(b(hi) / cellSize))
    df.withColumn(s + "cx", gen(axis("minx", "maxx"))).withColumn(s + "cy", gen(axis("miny", "maxy")))
  }

  /** Grid branch. Rows are routed by the cheap per-row `oversized` test:
    * rows under the cap take the cell equi-join, every pair with an
    * oversized row takes a broadcast nested loop with the oversized rows
    * broadcast — oversized p rows against all of q, the other p rows
    * against oversized q rows. With none over the cap (the usual case)
    * those broadcasts are empty, and adaptive execution drops their joins
    * before they run.
    */
  private def grid(p: Side, q: Side, cond: Column, semantics: JoinType, cellSize: Double,
      dist: Option[Double]): DataFrame = {
    val (pBox, qBox) = (withBox(p.df, "__g_lb", p.bbox), withBox(q.df, "__g_rb", q.bbox, dist))
    val (pBig, qBig) = (oversized(lb, cellSize), oversized(rb, cellSize))
    val (pN, qN, qB) = (pBox.filter(!pBig), qBox.filter(!qBig), qBox.filter(qBig))
    val withQ = if (semantics == LeftSemi || semantics == LeftAnti) None else Some(pBox.columns.length)
    val viaBigP = originals(
      nestedLoop(pBox.filter(pBig), qBox, byBox(cond), semantics, buildLeft = true), p, q, withQ)
    val qg = cells(qN, cellSize, "__g_r", outer = false).withColumn("__g_rhit", lit(1))
    val matched = col("__g_lcx") === col("__g_rcx") && col("__g_lcy") === col("__g_rcy") &&
      byBox(floor(greatest(lb("minx"), rb("minx")) / cellSize) === col("__g_lcx") &&
        floor(greatest(lb("miny"), rb("miny")) / cellSize) === col("__g_lcy") && cond)
    val viaCells = semantics match {
      case Inner =>
        val pg = cells(pN, cellSize, "__g_l", outer = false)
        originals(pg.join(qg, matched), p, q, Some(pg.columns.length))
          .union(originals(nestedLoop(pN, qB, byBox(cond), Inner), p, q, withQ))
      case LeftOuter | LeftSemi | LeftAnti =>
        // preserving types tag each preserved row so ONE dataflow can
        // decide matched vs unmatched per row. The tag is used only WITHIN
        // that single evaluation (explode → join → window over the tag),
        // never joined back against a second evaluation of the side — so
        // it only needs uniqueness, which monotonically_increasing_id
        // guarantees, not replay-stability, which it does not. LEFT OUTER
        // on the cell equi-key keeps every preserved cell-copy (every ON
        // conjunct decides MATCHING here); the window then classifies rows
        // (any copy matched?) and picks one representative copy each
        import org.apache.spark.sql.expressions.Window
        val pg = cells(pN.withColumn("__g_lid", monotonically_increasing_id()), cellSize, "__g_l",
          outer = true)
        val w = Window.partitionBy(col("__g_lid"))
        val j0 = pg.join(qg, matched, "left_outer")
          .withColumn("__g_hit", max(col("__g_rhit")).over(w))
          .withColumn("__g_rn", row_number().over(w.orderBy(col("__g_rhit").desc_nulls_last)))
        // one row per preserved row: its columns, its bbox, grid-matched?
        val reps = j0.filter(col("__g_rn") === 1)
        val repCols = reps.queryExecution.analyzed.output.take(p.df.columns.length)
          .map(GraftColumnBridge.column) ++ Seq(lb, col("__g_hit"))
        val unmatched = reps.filter(col("__g_hit").isNull).select(repCols: _*)
        // then the pairs with oversized q rows, over the representatives.
        // Where two branches read j0, each classifies within its own
        // evaluation, so they agree without a stable tag
        semantics match {
          case LeftAnti => originals(nestedLoop(unmatched, qB, byBox(cond), LeftAnti), p, q, None)
          case LeftSemi => originals(reps.filter(col("__g_hit") === 1), p, q, None)
            .union(originals(nestedLoop(unmatched, qB, byBox(cond), LeftSemi), p, q, None))
          case _ =>
            val bigHits = nestedLoop(reps.select(repCols: _*), qB.withColumn("__g_bhit", lit(1)),
              byBox(cond), LeftOuter)
            originals(j0.filter(col("__g_rhit").isNotNull), p, q, Some(pg.columns.length))
              .union(originals(bigHits.filter(col("__g_bhit").isNotNull || col("__g_hit").isNull),
                p, q, Some(repCols.length)))
        }
      case other => throw new IllegalArgumentException(s"unsupported spatial join type $other")
    }
    viaCells.union(viaBigP)
  }

  private def prefixed(df: DataFrame, prefix: String): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, prefix + c))

  private val Predicates: Map[String, (Column, Column) => Column] = Map(
    "intersects" -> st.intersects, "within" -> st.within, "contains" -> st.contains,
    "covers" -> st.covers, "coveredby" -> st.coveredBy, "touches" -> st.touches,
    "overlaps" -> st.overlaps, "crosses" -> st.crosses)

  /** Runs `f` on the API's join inputs — both sides l_/r_ prefixed,
    * their canonical geometry and bbox columns, the named exact predicate —
    * and strips the l_ prefix again from semi/anti results (those are just
    * filtered left rows).
    */
  private def api(left: DataFrame, right: DataFrame, predicate: String, semantics: JoinType)(
      f: (Side, Side, Column) => DataFrame): DataFrame = {
    val pred = Predicates.getOrElse(predicate,
      throw new IllegalArgumentException(s"unknown predicate $predicate"))
    val out = f(Side(prefixed(left, "l_"), col("l_bbox")), Side(prefixed(right, "r_"), col("r_bbox")),
      pred(col("l_geometry"), col("r_geometry")))
    if (semantics == LeftSemi || semantics == LeftAnti) out.toDF(left.columns.toSeq: _*) else out
  }

  /** Inner join through the broadcast branch, whatever the sizes. */
  def broadcastJoin(left: DataFrame, right: DataFrame,
      predicate: String = "intersects"): DataFrame =
    api(left, right, predicate, Inner)((p, q, exact) => broadcastInner(p, q, exact, None))

  /** Inner join through the grid branch at the given cell size — on the
    * order of the typical right-side bbox extent (a few rows per cell).
    */
  def gridJoin(left: DataFrame, right: DataFrame, cellSize: Double,
      predicate: String = "intersects"): DataFrame =
    api(left, right, predicate, Inner)((p, q, exact) => grid(p, q, exact, Inner, cellSize, None))

  /** Pick a grid cell size from bbox statistics: a cell should be on the
    * order of the larger of (a) the mean right-side bbox extent — so a
    * typical geometry replicates to O(1) cells — and (b) the data span
    * divided by ~sqrt(4x shuffle parallelism) — so small-extent data still
    * spreads across enough cells to parallelize. One cheap agg over the
    * (already tiny) bbox columns.
    */
  def suggestCellSize(left: DataFrame, right: DataFrame): Double = {
    val s = right.agg(
      avg(col("bbox")("maxx") - col("bbox")("minx")),
      avg(col("bbox")("maxy") - col("bbox")("miny")),
      min(col("bbox")("minx")), max(col("bbox")("maxx")),
      min(col("bbox")("miny")), max(col("bbox")("maxy"))).head()
    if (s.isNullAt(0)) return 1.0   // empty right side: any cell size joins 0 rows
    val meanExtent = math.max(s.getDouble(0), s.getDouble(1))
    val span = math.max(s.getDouble(3) - s.getDouble(2), s.getDouble(5) - s.getDouble(4))
    val parallelism = left.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bySpan = span / math.max(1.0, math.sqrt(parallelism * 4.0))
    val cell = math.max(meanExtent, bySpan)
    if (cell > 0 && !cell.isNaN && !cell.isInfinite) cell else 1.0
  }

  /** Distributed EXACT k-nearest-neighbor join (grid + ring expansion —
    * the PGBJ shape): for every query point, the `k` nearest points by
    * planar distance, rank ties broken by point id. Both inputs must
    * expose (id, x, y).
    *
    * Exactness argument: phase 1 searches each query's 3×3 cell
    * neighborhood. A query inside its cell is at distance ≥ `margin` (its
    * distance to the 3×3 block boundary) from every point OUTSIDE the
    * block, so when ≥ k candidates exist and the kth candidate distance is
    * ≤ margin, those k are globally exact. Every other query expands to
    * the (2r+1)² cell square with r·cellSize ≥ its kth-candidate upper
    * bound — any globally closer point lies within that bound, and a point
    * within r·cellSize of the query sits at most r cells away, so the
    * square contains every true neighbor. Queries with < k phase-1
    * candidates, or whose ring would exceed MaxCellsPerRow cells, fall
    * back to a cross join — the sparse tail by construction when cellSize
    * is sized so a typical 3×3 block holds ≳ 2k points.
    *
    * Scale shape: one equi-shuffle on cell + one window shuffle on query
    * id in each phase; per-(query, point) candidates appear exactly once
    * (a point lives in exactly one cell), so no dedup pass; the window's
    * per-query top-k never materializes more than a block's candidates.
    */
  def knnJoin(queries: DataFrame, points: DataFrame, k: Int, cellSize: Double,
      excludeSelf: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = cellSize
    val q = queries.select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
      .withColumn("qcx", floor(col("qx") / s))
      .withColumn("qcy", floor(col("qy") / s))
      .withColumn("__margin", least(
        col("qx") - (col("qcx") - 1) * s, (col("qcx") + 2) * s - col("qx"),
        col("qy") - (col("qcy") - 1) * s, (col("qcy") + 2) * s - col("qy")))
    val p = points.select(col("id").as("pid"), col("x").as("px"), col("y").as("py"))
      .withColumn("__cell",
        struct(floor(col("px") / s).as("cx"), floor(col("py") / s).as("cy")))

    val d2 = (col("qx") - col("px")) * (col("qx") - col("px")) +
      (col("qy") - col("py")) * (col("qy") - col("py"))
    val selfF = if (excludeSelf) col("pid") =!= col("qid") else lit(true)
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("pid"))
    val out = Seq("qid", "pid", "d2", "rk").map(col)

    // phase 1: 3×3 neighborhood candidates, per-query top-k + upper bound
    val nbr = explode(array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct((col("qcx") + dx).as("cx"), (col("qcy") + dy).as("cy"))): _*))
    val topk1 = q.withColumn("__cell", nbr)
      .join(p, "__cell")
      .filter(selfF)
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
    val stats = topk1.groupBy(col("qid"))
      .agg(max(col("d2")).as("ub2"), count(lit(1)).as("nc"))
    val statsJ = q.join(stats, Seq("qid"), "left")
    val exactIds = statsJ
      .filter(col("nc") === k && col("ub2") <= col("__margin") * col("__margin"))
      .select("qid")
    val res1 = topk1.join(exactIds, Seq("qid"), "left_semi")

    // phase 2: ring expansion for queries whose bound exceeds the block
    val rest = statsJ.join(exactIds, Seq("qid"), "left_anti")
    val withR = rest.filter(col("nc") === k)
      .withColumn("r", greatest(lit(1L), ceil(sqrt(col("ub2")) / s)))
    val ringable = withR.filter((col("r") * 2 + 1) * (col("r") * 2 + 1) <= MaxCellsPerRow)
    val ringCells = explode(flatten(
      transform(sequence(col("qcx") - col("r"), col("qcx") + col("r")), cx =>
        transform(sequence(col("qcy") - col("r"), col("qcy") + col("r")), cy =>
          struct(cx.as("cx"), cy.as("cy"))))))
    val res2 = ringable.withColumn("__cell", ringCells)
      .join(p, "__cell")
      .filter(selfF)
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)

    // fallback: < k candidates in the block, or an oversized ring — the
    // sparse tail scans all points
    val fallQ = rest.join(ringable.select("qid"), Seq("qid"), "left_anti")
      .select("qid", "qx", "qy")
    val res3 = fallQ.crossJoin(p.drop("__cell"))
      .filter(selfF)
      .withColumn("d2", d2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)

    res1.select(out: _*)
      .unionByName(res2.select(out: _*))
      .unionByName(res3.select(out: _*))
  }

  /** Spatial join with the strategy picked by [[build]]. `joinType`:
    * inner | left_outer | left_semi | left_anti. Columns come back l_/r_
    * prefixed (inner/outer); semi/anti return the plain left schema.
    * `cellSize <= 0` auto-sizes the grid from bbox stats (one small
    * aggregate, paid only when the join grids).
    */
  def join(left: DataFrame, right: DataFrame, predicate: String = "intersects",
      cellSize: Double = 0.0, joinType: String = "inner"): DataFrame = {
    val semantics = JoinType(joinType)
    api(left, right, predicate, semantics)((p, q, exact) =>
      build(p, q, exact, semantics, if (cellSize > 0) cellSize else suggestCellSize(left, right)))
  }
}
