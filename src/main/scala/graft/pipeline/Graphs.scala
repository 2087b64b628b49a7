package graft.pipeline

import scala.util.chaining._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the clustering-coefficient /
  * community-density signal over co-occurrence graphs (here: parts
  * co-ordered in the same order; in a crawl pipeline: domains co-linked,
  * entities co-mentioned).
  *
  * The plan is the degree-ordered orientation algorithm (Suri & Vassilvitskii
  * WWW'11 / "MapReduce triangle enumeration"): orient every undirected edge
  * from its lower-(degree, id) endpoint to its higher one, then a triangle
  * is exactly one wedge u→v, u→w whose closing edge v→w is also oriented —
  * each triangle is produced ONCE, and the wedge join's fan-out per node is
  * its OUT-degree, which orientation caps at O(√m): total wedge volume is
  * O(m^{3/2}) instead of Σdeg² (a hub with degree d contributes C(d,2)
  * wedges unoriented, but ~C(√m,2) oriented — the difference between a
  * broadcast-killing blowup and a bounded shuffle at web scale).
  */
object Graphs {

  /** Per-node triangle counts over an undirected edge list `edges(src,
    * dst)` (self-loops and duplicate/reversed edges are normalized away).
    * Node ids are unbounded longs — the (deg, id) total order is a native
    * Spark STRUCT key, not a packed long (the round-8 rewrite removed the
    * old < 2³¹ packing ceiling). Returns (node, n_tri) for every node on
    * ≥1 triangle.
    *
    * Shuffle count: degree aggregate, two co-partitioned joins to attach
    * endpoint degrees, the wedge self-join on the apex, the closing-edge
    * semi-join on (v, w), and the final explode+count — each keyed on a
    * node or node pair, so the plan holds on graphs whose edge list is
    * itself cluster-scale. When the oriented edge list is SMALL (a
    * size-first broadcast pick, like [[graft.engine.SpatialJoin.join]]'s), the
    * wedge and closing probes broadcast it instead: the wedge stream —
    * O(m^{3/2}) rows, the dominant volume — then never shuffles at all,
    * it probes the edge map map-side. Above the threshold the pure-shuffle
    * shape kicks in unchanged.
    */
  private val BroadcastEdges = 2_000_000L

  /** `broadcastLimit` overrides the edge-count threshold under which the
    * wedge/closing probes broadcast the oriented edge list (0 forces the
    * pure-shuffle plan — useful to pin ONE plan shape across a growth
    * ladder; the default picks per size like the spatial join).
    */
  def triangleCounts(edges: DataFrame,
      broadcastLimit: Long = BroadcastEdges): DataFrame =
    trianglesFromUnd(normalized(edges), broadcastLimit)

  /** DOULION edge-sampled triangle estimate (Tsourakakis, Kang, Miller,
    * Faloutsos, KDD'09): keep each undirected edge independently with
    * probability p, exact-count triangles on the sparsified graph, scale
    * by 1/p³ — an unbiased estimator whose variance vanishes as the true
    * count grows. This is the PRODUCTION path at 100 TB scale: the exact
    * count pays the O(m^1.5) wedge floor on the full edge set, while this
    * pays it on a p-fraction (wedge work ∝ p², closing probe ∝ p³); the
    * exact [[triangleCounts]] stays as the verify sibling. The coin is a
    * REPLAYABLE hash of the edge key (not rand()), so the sampled subgraph
    * — and therefore the estimate — is deterministic and oracle-checkable.
    * Returns one row: kept edges, sampled-subgraph triangle count, and the
    * 1/p³-scaled estimate.
    */
  def triangleCountApprox(edges: DataFrame, p: Double = 0.2,
      broadcastLimit: Long = BroadcastEdges): DataFrame = {
    require(p > 0 && p <= 1, s"sampling probability p=$p out of (0,1]")
    val m = 1000003L                       // prime coin modulus
    val keepLt = math.round(p * m)         // effective p = keepLt/m exactly
    val und = normalized(edges)
      .filter(pmod(col("a") * 2654435761L + col("b") * 40503L, lit(m)) < keepLt)
      .persist()
    val kept = und.count()                 // also materializes the sample
    val tri = trianglesFromUnd(und, broadcastLimit)
      .agg(coalesce(sum(col("n_tri")), lit(0L)).as("s"))
      .select((col("s") / 3).cast("long").as("tri_sampled"))
    val scale = pow(lit(m.toDouble) / lit(keepLt.toDouble), 3)
    val out = tri.select(lit(kept).as("n_kept_edges"), col("tri_sampled"),
      round(col("tri_sampled") * scale).cast("long").as("tri_est"))
    out
  }

  /** Dedup'd undirected edge list (a < b). */
  private def normalized(edges: DataFrame): DataFrame = edges
    .select(least(col("src"), col("dst")).cast("long").as("a"),
      greatest(col("src"), col("dst")).cast("long").as("b"))
    .filter(col("a") =!= col("b"))
    .distinct()

  private def trianglesFromUnd(und: DataFrame,
      broadcastLimit: Long): DataFrame =
    orientedTriples(und, broadcastLimit)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** One row per triangle of the undirected (a<b) list `und`, as the three
    * node IDS (u, v, w) in orientation order — each triangle produced
    * exactly once by the degree-oriented wedge plan described on the
    * object.
    *
    * Orientation-key representation is picked PER INPUT (guide §2.3,
    * narrower types): when every id is in [0, 2³¹) the (deg, id)
    * lexicographic key packs into one long (deg·2³¹ + id — order
    * preserved), so the wedge join builds, hashes and compares primitive
    * longs instead of 2-field structs and the broadcast edge relation
    * shrinks ~4× (measured 1.9× on gr_clustering's wedge pipeline, the
    * suite's largest single query). Ids outside that range keep the
    * native-struct key — there is still NO id ceiling (the round-8
    * contract); packing is a measured fast lane, not a bound. The bounds
    * probe is one tiny aggregate over the (node, deg) table.
    */
  private def orientedTriples(und: DataFrame,
      broadcastLimit: Long): DataFrame = {
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .persist() // consumed 3×: the bounds probe + both degree attaches
    val bounds = deg.agg(min(col("v")), max(col("v")), max(col("deg"))).head()
    val packed = bounds.isNullAt(0) ||
      (bounds.getLong(0) >= 0 && bounds.getLong(1) < (1L << 31) &&
        bounds.getLong(2) <= (1L << 31))
    val key = (c: String) =>
      if (packed) (col(s"deg_$c") * lit(1L << 31) + col(c)).as(s"k$c")
      else struct(col(s"deg_$c").as("deg"), col(c).as("id")).as(s"k$c")
    val keyed = und
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
      .select(key("a"), key("b"))
    // dirE feeds three joins (both wedge sides + the closing probe); persist
    // so the dedup + degree-attach chain runs once, not three times
    val dirE0 = keyed.select(
      least(col("ka"), col("kb")).as("u"), greatest(col("ka"), col("kb")).as("w"))
      .persist()
    // the persisted count is a cache scan (a cheap signal once persisted;
    // SpatialJoin.join decides from plan stats alone); it also sizes the
    // O(m^{3/2}) wedge exchanges ∝ m (the round-7 INIT_PARTS lever, now in
    // the plan: 16 fixed partitions spill/hang past ~10× of sf0.1)
    val m = dirE0.count()
    deg.unpersist(blocking = false)
    val n = Autosize.parts(dirE0, m, Autosize.EdgesPerPart)
    val dirE = Autosize.keyed(dirE0, n, col("u"))
    val dirEb = if (m <= broadcastLimit) broadcast(dirE0) else dirE
    // wedges u→v, u→w with v < w close iff oriented edge (v, w) exists
    val wedges = dirE.as("x").join(dirEb.as("y"),
        col("x.u") === col("y.u") && col("x.w") < col("y.w"))
      .select(col("x.u").as("u"), col("x.w").as("v"), col("y.w").as("w"))
    // closing probe keys (v, w): pin the wedge-volume exchange to the same
    // width (broadcast probe needs no exchange at all)
    val closable =
      if (m <= broadcastLimit) wedges
      else Autosize.keyed(wedges, n, col("v"), col("w"))
    val probeSide =
      if (m <= broadcastLimit) dirEb.select(col("u").as("v"), col("w"))
      else Autosize.keyed(
        dirE0.select(col("u").as("v"), col("w")), n, col("v"), col("w"))
    val id = (c: org.apache.spark.sql.Column) =>
      if (packed) c % lit(1L << 31) else c.getField("id")
    closable.join(probeSide, Seq("v", "w"))
      .select(id(col("u")).as("u"), id(col("v")).as("v"), id(col("w")).as("w"))
  }

  /** Per-edge triangle support over an undirected (a<b) edge list: one row
    * (a, b, support) for every edge on ≥1 triangle. The enumeration is the
    * oriented O(m^{3/2}) plan; ids are decoded from the orientation keys and
    * re-sorted so each triangle charges its three id-ordered edges — the
    * same (a, b) keys the input carries, whatever the degree orientation
    * chose.
    */
  private def edgeSupport(und: DataFrame, broadcastLimit: Long): DataFrame = {
    val ids = orientedTriples(und, broadcastLimit).select(
      col("u").as("x"), col("v").as("y"), col("w").as("z"))
    // id-sort the corners via array_sort — the old x+y+z−lo−hi midpoint
    // arithmetic overflows once ids use the full long range
    val srt = array_sort(array(col("x"), col("y"), col("z")))
    val tri = ids.select(srt.getItem(0).as("ta"),
      srt.getItem(1).as("tb"), srt.getItem(2).as("tc"))
    tri.select(explode(array(
        struct(col("ta").as("a"), col("tb").as("b")),
        struct(col("ta").as("a"), col("tc").as("b")),
        struct(col("tb").as("a"), col("tc").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
  }

  /** k-truss peel (Cohen, "Trusses: cohesive subgraphs for social network
    * analysis", 2008): repeatedly drop every undirected edge whose support
    * (triangles containing it) is < k−2; the fixpoint subgraph is the
    * k-truss — the edge-wise strengthening of the k-core that keeps only
    * community-dense structure (each surviving edge sits on ≥ k−2
    * triangles whose other edges also survive). Bounded-`rounds` contract,
    * the same policy as [[kcorePeel]]: each round is one oriented triangle
    * enumeration + a per-edge support count + the threshold filter, and
    * the DuckDB oracle ([[trussDuckSql]]) unrolls the identical rounds, so
    * the result is well-defined (and replayable) even when `rounds` stops
    * short of the fixpoint. Returns the surviving edges with their final
    * support — one more support pass after the last peel, again mirrored
    * by the oracle.
    *
    * Scale shape per round: the O(m^{3/2}) wedge volume of the current
    * survivor set (shrinking every round), then a (a,b)-keyed count and a
    * hash filter — no driver-side state; survivor lists persist per round
    * because each feeds both the next enumeration's degree aggregate and
    * its three probe sides.
    */
  def trussPeel(edges: DataFrame, k: Int, rounds: Int,
      broadcastLimit: Long = BroadcastEdges): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // materializedBare per round, not persist: each support pass references
    // the survivor frame ~5× (degree agg + two degree attaches + wedge +
    // closing probe), so raw lineage would nest ~5^rounds plan copies —
    // the driver dies in the analyzer long before any executor works. The
    // bare LogicalRDD rewrap truncates both the plan tree and the
    // checkpoint-carried stats (the gr_mst sizeInBytes-squaring pathology).
    var e = normalized(edges).pipe(materializedBare)
    for (_ <- 1 to rounds) {
      e = edgeSupport(e, broadcastLimit)
        .filter(col("support") >= k - 2)
        .select("a", "b")
        .pipe(materializedBare)
    }
    edgeSupport(e, broadcastLimit)
  }

  /** DuckDB replay of [[trussPeel]]: `e0Ctes` is a CTE-list fragment whose
    * last CTE must be `e0(a, b)`, the dedup'd a<b undirected edge list.
    * Each round chains a triangle enumeration (id-ordered a<b<c — the same
    * triangle SET the oriented Spark plan emits), the 3-edge support
    * count, and the threshold filter; one extra support pass computes the
    * reported column. CTEs are MATERIALIZED: DuckDB inlines
    * multiply-referenced CTEs, and tri_i/e_i are each referenced 3×, so an
    * inlined unroll would expand 3^rounds-fold.
    */
  def trussDuckSql(e0Ctes: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH $e0Ctes")
    for (i <- 1 to rounds + 1) {
      val p = s"e${i - 1}"
      sb.append(s""",
tri$i AS MATERIALIZED (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM $p e1 JOIN $p e2 ON e2.a = e1.b
  JOIN $p e3 ON e3.a = e1.a AND e3.b = e2.b),
sup$i AS MATERIALIZED (
  SELECT a, b, count(*) AS s FROM (
    SELECT u AS a, v AS b FROM tri$i
    UNION ALL SELECT u, w FROM tri$i
    UNION ALL SELECT v, w FROM tri$i) GROUP BY 1, 2)""")
      if (i <= rounds) sb.append(s""",
e$i AS MATERIALIZED (SELECT a, b FROM sup$i WHERE s >= ${k - 2})""")
    }
    sb.append(
      s"\nSELECT a, b, s::BIGINT AS support FROM sup${rounds + 1} ORDER BY 1, 2")
    sb.toString
  }

  /** Local clustering coefficients — c(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * the per-node community-density signal on top of [[triangleCounts]].
    * Nodes on no triangle still appear (coefficient 0) as long as they have
    * degree ≥ 2; the ratio is one IEEE division of exact integers.
    */
  def clusteringCoefficients(edges: DataFrame,
      broadcastLimit: Long = BroadcastEdges): DataFrame = {
    // the normalized edge list feeds the degree table AND the triangle
    // pipeline (which scans it three more times internally) — persist so
    // the upstream edge derivation (often itself a join) runs once
    val und = normalized(edges).persist()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(trianglesFromUnd(und, broadcastLimit), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff",
        round(lit(2.0) * col("n_tri") / (col("deg") * (col("deg") - 1L)), 6))
  }

  /** Multi-source BFS: minimum hop count from any seed to every reachable
    * node, bounded at `maxHop` rounds — reachability/radius analysis over
    * link graphs (crawl-frontier depth, influence spread), and the unweighted
    * special case of the reference's graph traversals.
    *
    * Frontier-parallel shape: state is ONE (node, hop) row per *settled*
    * node, never paths; each round expands only the newest frontier through
    * an equi-join on src and anti-joins away already-settled nodes, so total
    * work is O(Σ frontier-adjacent edges) ≤ O(m·rounds) and per-round
    * shuffles are keyed on node — the textbook Pregel/BSP plan, expressed
    * declaratively. `edges` is used as given (pass both directions for an
    * undirected graph); it is persisted once and re-probed each round. The
    * frontier is persisted per round (it is consumed twice: expansion and
    * the union into `dist`) and the settled set is rebuilt as a small union
    * tree — at maxHop ≤ ~10 the lineage stays shallow enough that no
    * checkpoint is needed.
    */
  /** Persisted edge list for the frontier loops (bfs / bfsPerSource /
    * hashWalks), pre-partitioned by `src` at a width ∝ |E| (the round-7
    * `INIT_PARTS` lever in plan form): the cached layout satisfies each
    * round's join distribution on src, so the BIG side never re-shuffles
    * per round and the probe runs at the sized width instead of the
    * session's fixed count (which spills past ~10× of sf0.1). Small edge
    * lists (every gate run) keep the default width — identical plans.
    */
  private def sizedEdges(edges: DataFrame, dedup: Boolean = true): DataFrame = {
    val base = (if (dedup)
        edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")).distinct()
      else edges).persist()
    val n = Autosize.parts(base, base.count(), Autosize.EdgesPerPart)
    if (n > base.sparkSession.sessionState.conf.numShufflePartitions) {
      val sized = base.repartition(n, col("src")).persist()
      sized.count()
      base.unpersist(blocking = false)
      sized
    } else base
  }

  def bfs(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    val e = sizedEdges(edges)
    // every frontier is materializedBare (NOT just persisted): `dist` is a
    // union over all of them, so they must stay resident to the caller's
    // action — but a persisted frontier still EMBEDS the whole prefix
    // chain in its logical plan, and the settled anti-join re-analyzes
    // that growing tree every round (guide §5 driver cost). The bare
    // rewrap keeps round plans constant-size; no frontier is freed (all
    // are read by the result).
    var frontier = seeds.select(col("node").cast("long").as("node"))
      .distinct().pipe(materializedBare)
    var dist = frontier.withColumn("hop", lit(0))
    var hop = 0
    var frontierEmpty = false
    while (hop < maxHop && !frontierEmpty) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .pipe(materializedBare)
      frontierEmpty = next.isEmpty
      dist = dist.union(next.withColumn("hop", lit(hop)))
      frontier = next
    }
    // the result unions only (checkpointed) frontiers — the probed edge
    // list is no longer referenced; drop its cached blocks now
    e.unpersist(blocking = false)
    dist
  }

  /** Per-source multi-source BFS: minimum hop from EACH seed separately —
    * state is one (root, node, hop) row per settled (root, node) pair, the
    * landmark-distance primitive behind closeness/harmonic centrality and
    * distance-oracle sketches (Das Sarma et al., WSDM'10 use exactly this
    * batched-landmark shape). Same frontier-parallel loop as [[bfs]] with a
    * composite settle key: per round one equi-join on src keyed (root,node)
    * + one anti-join against the settled set; state ≤ |seeds|·|V| rows and
    * nothing is broadcast, so a landmark batch over a 100 TB edge list is
    * k BFS's for the price of one shuffle pipeline.
    */
  def bfsPerSource(edges: DataFrame, seeds: DataFrame, maxHop: Int): DataFrame = {
    val e = sizedEdges(edges)
    // same frontier discipline as [[bfs]]: materializedBare per round so
    // the settled anti-join's plan stays constant-size (guide §5); every
    // frontier stays resident (the result unions all of them)
    var frontier = seeds.select(col("node").cast("long").as("root"))
      .distinct().withColumn("node", col("root")).pipe(materializedBare)
    var dist = frontier.withColumn("hop", lit(0))
    var hop = 0
    var frontierEmpty = false
    while (hop < maxHop && !frontierEmpty) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("root"), col("dst").as("node")).distinct()
        .join(dist.select("root", "node"), Seq("root", "node"), "left_anti")
        .pipe(materializedBare)
      frontierEmpty = next.isEmpty
      dist = dist.union(next.withColumn("hop", lit(hop)))
      frontier = next
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Bounded-round k-core peeling: `rounds` synchronous iterations of
    * "drop every node with degree < k, keep only edges between survivors" —
    * the standard peeling algorithm with a fixed round budget, the same
    * bounded-round contract as [[bfs]]/[[sssp]] (the oracle replays the
    * identical rounds as chained CTEs, so the result is well-defined even
    * before fixpoint; real graphs converge in a handful of rounds).
    *
    * Expects a symmetric directed edge list (both directions present), so
    * out-degree = degree and one groupBy(src) per round is the whole
    * degree computation. Per round: one map-side-combinable count aggregate
    * + two semi-shaped equi-joins keyed on node id — state never exceeds
    * the surviving edge list, nothing is broadcast, no driver data. Returns
    * (node, deg) of the surviving subgraph after `rounds` peels.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // materializedBare per round, not persist: persist keeps the full
    // unrolled logical plan (each round references e ~3×, so the analyzed
    // tree multiplied to 86k plan lines / 14k Exchanges by round 4 —
    // measured in plans/r09/scratch/gr_kcore.txt), and Catalyst re-walks
    // that whole text on every action — pure driver cost (guide §5) that
    // grows with rounds and was the suite's top run-to-run noise source.
    // The bare rewrap keeps every round's plan constant-size; the
    // superseded survivor frame is freed (the sccLabels discipline).
    var e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().pipe(materializedBare)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("n"))
      val next = e.join(keep.select(col("n").as("src")), Seq("src"))
        .join(keep.select(col("n").as("dst")), Seq("dst"))
        .select("src", "dst").pipe(materializedBare)
      freeCheckpoint(e) // superseded generation — release its blocks now
      e = next
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** DuckDB replay of [[kcorePeel]]: `e0Ctes` is a CTE-list fragment whose
    * last CTE must be `e0(src, dst)`, the same symmetric edge list the Spark
    * side peels; each round is one chained CTE pair (degree-filter +
    * survivor join), identical to the Spark iteration.
    */
  def kcoreDuckSql(e0Ctes: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH $e0Ctes")
    for (i <- 1 to rounds) {
      sb.append(s""",
k$i AS (SELECT src AS n FROM e${i - 1} GROUP BY 1 HAVING count(*) >= $k),
e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
        JOIN k$i a ON e.src = a.n JOIN k$i b ON e.dst = b.n)""")
    }
    sb.append(
      s"\nSELECT src AS node, count(*)::BIGINT AS deg FROM e$rounds GROUP BY 1 ORDER BY 1")
    sb.toString
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the community-
    * detection LPA) made deterministic: every node starts as its own label;
    * each round EVERY node simultaneously adopts the most frequent label
    * among its neighbors, ties broken by smallest label. Bounded `rounds`
    * (the published algorithm's stopping rule is convergence; synchronous
    * LPA on near-bipartite graphs can 2-cycle, so a fixed round count is
    * the well-defined contract — same policy as [[kcorePeel]]/[[sssp]]).
    *
    * Scale shape per round: one edge⋈label equi-join on the neighbor key +
    * two aggregates that share the `src` shuffle (the (src,lbl) count's
    * exchange co-partitions the per-src argmax — map-side partial combine
    * on both). State is one (node,lbl) row per node; the frequency argmax
    * is `max(struct(cnt, -lbl))` so the tie order is exact integer
    * arithmetic, never a float. Labels persist per round — each feeds the
    * join of the next round only (single consumer), but unpersisted lineage
    * would re-run the whole prefix per action.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    // materializedBare per round (not persist): keeps each round's plan
    // constant-size instead of embedding the whole prefix (guide §5 /
    // §7.3 driver planning cost); superseded label generations are freed
    // — the sccLabels checkpoint discipline.
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().pipe(materializedBare)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).pipe(materializedBare)
    for (_ <- 1 to rounds) {
      val next = e.join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("lbl"))
        .pipe(materializedBare)
      freeCheckpoint(labels) // superseded generation
      labels = next
    }
    freeCheckpoint(e) // the result reads only the final (checkpointed) labels
    labels.orderBy(col("node"))
  }

  /** DuckDB replay of [[labelPropagation]]: `eCtes` must end with an
    * `e(src, dst)` CTE holding the same symmetric edge list; one chained
    * (count, argmax) CTE pair per round. */
  def lpaDuckSql(eCtes: String, rounds: Int): String = {
    val sb = new StringBuilder(s"WITH $eCtes,\nl0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)")
    for (i <- 1 to rounds) {
      sb.append(s""",
c$i AS (SELECT e.src, l.lbl, count(*) AS c FROM e JOIN l${i - 1} AS l ON e.dst = l.node GROUP BY 1, 2),
l$i AS (SELECT src AS node, lbl FROM (
  SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
  FROM c$i) WHERE rn = 1)""")
    }
    sb.append(s"\nSELECT node, lbl FROM l$rounds ORDER BY node")
    sb.toString
  }

  /** Bounded-round HITS (Kleinberg 1999) as an EXACT integer power
    * iteration: with h₀ = 1, the unnormalized authority/hub scores after k
    * rounds are sums of integer degree products — no float accumulates, so
    * the distributed sums are merge-order independent and the oracle replay
    * is hash-exact (normalization is deferred to a final display-only
    * max-ratio). Two node-keyed equi-joins + two map-side-combinable sums
    * per round, state one (node, score) row per side — the same shuffle
    * budget as [[graft.pipeline.PageRank]]. Overflow bound: scores grow by
    * a max-degree factor per half-round; callers keep
    * iters · log₂(dmax_in · dmax_out) < 63 (2 rounds on a ≤100k-degree
    * graph is ~2^68… use the bound, not vibes: 2 rounds × (log₂ din + log₂
    * dout) — the driver query's trade graph peaks at ~2^42).
    *
    * Returns (side, node, score_raw, score) — top `k` per side by raw
    * score, score = raw/max(side) rounded to 6.
    */
  def hits(edges: DataFrame, iters: Int, k: Int): DataFrame = {
    // materializedBare per half-round (not persist) + free the superseded
    // generation: constant-size plans instead of a per-round unrolled tree
    // (guide §5; the sccLabels checkpoint discipline).
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().pipe(materializedBare)
    var h = e.select(col("src").as("node")).distinct()
      .withColumn("s", lit(1L)).pipe(materializedBare)
    var a: DataFrame = h.limit(0)
    for (i <- 1 to iters) {
      val aPrev = a
      val hPrev = h
      a = e.join(hPrev, e("src") === hPrev("node"))
        .groupBy(col("dst").as("anode")).agg(sum(col("s")).as("s"))
        .select(col("anode").as("node"), col("s")).pipe(materializedBare)
      // round 1's aPrev is h.limit(0) — a DERIVED frame over h's
      // checkpoint, so freeing it would free h's own blocks; skip it
      if (i > 1) freeCheckpoint(aPrev)
      h = e.join(a, e("dst") === a("node"))
        .groupBy(col("src").as("hnode")).agg(sum(col("s")).as("s"))
        .select(col("hnode").as("node"), col("s")).pipe(materializedBare)
      freeCheckpoint(hPrev)
    }
    // the result reads only the final (checkpointed) a and h
    freeCheckpoint(e)
    def top(side: String, df: DataFrame) = {
      val mx = df.agg(max(col("s")).as("mx"))
      df.crossJoin(mx)
        .select(lit(side).as("side"), col("node"), col("s").as("score_raw"),
          round(col("s").cast("double") / col("mx").cast("double"), 6).as("score"))
        .orderBy(col("score_raw").desc, col("node")).limit(k)
    }
    top("auth", a).unionByName(top("hub", h))
  }

  /** DuckDB replay of [[hits]] on a directed edge CTE list ending in
    * `e(src, dst)`: identical integer rounds, identical final ratio.
    */
  def hitsDuckSql(eCtes: String, iters: Int, k: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT e.dst AS node, CAST(sum(s) AS BIGINT) AS s
         |  FROM e JOIN h${i - 1} ON e.src = h${i - 1}.node GROUP BY 1
         |), h$i AS (
         |  SELECT e.src AS node, CAST(sum(s) AS BIGINT) AS s
         |  FROM e JOIN a$i ON e.dst = a$i.node GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $eCtes,
       |h0 AS (SELECT DISTINCT src AS node, 1::BIGINT AS s FROM e),
       |$rounds
       |SELECT * FROM (
       |  SELECT 'auth' AS side, node, s AS score_raw,
       |         round(s::DOUBLE / (SELECT max(s) FROM a$iters)::DOUBLE, 6) AS score
       |  FROM a$iters ORDER BY s DESC, node LIMIT $k)
       |UNION ALL
       |SELECT * FROM (
       |  SELECT 'hub' AS side, node, s AS score_raw,
       |         round(s::DOUBLE / (SELECT max(s) FROM h$iters)::DOUBLE, 6) AS score
       |  FROM h$iters ORDER BY s DESC, node LIMIT $k)
       |ORDER BY side, score_raw DESC, node""".stripMargin
  }

  /** Katz centrality as an EXACT integer power iteration: with attenuation
    * β = 1/4 truncated at `iters` walk lengths, 4^iters · katz(v) =
    * Σ_{k ≤ iters} 4^(iters−k) · walks_k(v) is an integer (walks_k = number
    * of length-k walks ending at v), so the per-round state is exact longs
    * and the only float math is the display-ratio at the end — the same
    * determinism contract as [[hits]]. Per round: one edge join + two
    * node-keyed aggregates; nothing is broadcast, state is (node, long).
    */
  def katz(edges: DataFrame, iters: Int, k: Int): DataFrame = {
    // materializedBare per round (not persist) + free superseded frames:
    // the persisted version kept the full unrolled plan (37k lines / 5.9k
    // Exchanges by round 3 — plans/r09/scratch/gr_katz.txt) that Catalyst
    // re-analyzed per action, and it leaked both loop frames per round
    // (every generation of t and acc stayed persisted to query end).
    // Guide §5; the sccLabels checkpoint discipline.
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().pipe(materializedBare)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var t = nodes.withColumn("s", lit(1L)).pipe(materializedBare)
    var acc = t
    for (_ <- 1 to iters) {
      val tPrev = t
      val accPrev = acc
      t = e.join(tPrev, e("src") === tPrev("node"))
        .groupBy(col("dst").as("n2")).agg(sum(col("s")).as("s"))
        .select(col("n2").as("node"), col("s")).pipe(materializedBare)
      acc = accPrev.select(col("node"), (col("s") * 4).as("s")).unionByName(t)
        .groupBy("node").agg(sum(col("s")).as("s")).pipe(materializedBare)
      freeCheckpoint(tPrev)
      if (!(accPrev eq tPrev)) freeCheckpoint(accPrev)
    }
    // the result reads only the final (checkpointed) acc
    if (!(t eq acc)) freeCheckpoint(t)
    freeCheckpoint(e)
    val mx = acc.agg(max(col("s")).as("mx"))
    acc.crossJoin(mx)
      .select(col("node"), col("s").as("score_raw"),
        round(col("s").cast("double") / col("mx").cast("double"), 6).as("score"))
      .orderBy(col("score_raw").desc, col("node")).limit(k)
  }

  /** DuckDB replay of [[katz]] on edge CTEs ending in `e(src, dst)`. */
  def katzDuckSql(eCtes: String, iters: Int, k: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""t$i AS (
         |  SELECT e.dst AS node, CAST(sum(t${i - 1}.s) AS BIGINT) AS s
         |  FROM e JOIN t${i - 1} ON e.src = t${i - 1}.node GROUP BY 1
         |), s$i AS (
         |  SELECT node, CAST(sum(s) AS BIGINT) AS s FROM (
         |    SELECT node, s * 4 AS s FROM s${i - 1}
         |    UNION ALL SELECT node, s FROM t$i
         |  ) GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $eCtes,
       |n AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
       |t0 AS (SELECT DISTINCT node, 1::BIGINT AS s FROM n),
       |s0 AS (SELECT * FROM t0),
       |$rounds
       |SELECT node, s AS score_raw,
       |       round(s::DOUBLE / (SELECT max(s) FROM s$iters)::DOUBLE, 6) AS score
       |FROM s$iters ORDER BY s DESC, node LIMIT $k""".stripMargin
  }

  /** Bounded-round Bellman-Ford SSSP: minimum additive path weight from any
    * seed reachable within `rounds` edge relaxations — the weighted sibling
    * of [[bfs]] (routing cost, influence decay). `edges` needs long-castable
    * (src, dst, w); weights must be non-negative for the bounded result to
    * be the true distance on ≤`rounds`-hop paths.
    *
    * Per round: one equi-join on src to relax every edge out of the current
    * estimate, union with the estimate, one map-side-combinable min — state
    * is a single (node, dist) row per touched node, so k rounds = k bounded
    * shuffles keyed on node, never a path explosion. Exactly the chained-CTE
    * replay the oracle runs, so integer weights hash-match round for round.
    */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    // materializedBare per round (dist BRANCHES into relax join + union,
    // and a persisted chain still embeds the whole prefix plan — guide §5);
    // superseded estimates are freed, the sccLabels discipline
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
      .pipe(materializedBare)
    var dist = seeds.select(col("node").cast("long").as("node"), lit(0L).as("dist"))
    for (r <- 1 to rounds) {
      val prev = dist
      val relaxed = prev.join(e, prev("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = prev.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .pipe(materializedBare)
      // round 1's prev is the raw seed projection (no checkpoint to free)
      if (r > 1) freeCheckpoint(prev)
    }
    freeCheckpoint(e) // result = final checkpointed dist (or raw seeds)
    dist
  }

  /** Bounded-depth Brandes betweenness from a landmark batch (Brandes JMS
    * 2001, the landmark/pivot sampling shape of Riondato-Kornaropoulos
    * WSDM'14): for each seed root, a forward BFS accumulates the EXACT
    * integer shortest-path counts σ(root,v) per settled (root,node) pair
    * (σ at hop h = sum of predecessor σ at hop h−1, a map-side-combinable
    * integer aggregate on the frontier join), then the backward pass walks
    * the BFS DAG top-down: δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ_w),
    * with δ = 0 at the depth bound (the truncation semantics). Betweenness
    * = Σ_roots δ — paths longer than `maxHop` contribute nothing, which is
    * the standard distance-bounded variant.
    *
    * Scale shape: state is one (root, node, sigma) row per settled pair
    * (≤ |seeds|·|V|), every forward round is one equi-join on src keyed
    * (root, node) + one anti-join against the settled set, every backward
    * level is one equi-join through the edge list — nothing is ever
    * broadcast or collected, so a landmark batch over a cluster-scale edge
    * list is maxHop forward + maxHop backward bounded shuffles. The only
    * float math is the backward δ accumulation (exact-integer σ ratios),
    * replayed expression-for-expression by [[brandesDuckSql]].
    *
    * Returns (node, betweenness) for every non-root node settled at hops
    * 1..maxHop−1, top `k` by rounded score (ties by node).
    */
  def brandesBetweenness(edges: DataFrame, seeds: DataFrame,
      maxHop: Int, k: Int): DataFrame = {
    // materializedBare per level on BOTH passes (not persist): persisted
    // levels still embedded the whole prefix chain in each round's plan —
    // the forward anti-join and every backward contrib re-analyzed an
    // 86k-line / 12k-Exchange tree (plans/r09/scratch/gr_betweenness.txt),
    // pure driver cost (guide §5). Bare rewraps keep every level's plan
    // constant-size. Levels/deltas are all read by the result (acc unions
    // the deltas, the backward pass reads every level), so only s0 — used
    // by the forward pass alone — is freed.
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct().pipe(materializedBare)
    val s0 = seeds.select(col("node").cast("long").as("root"))
      .distinct().withColumn("node", col("root"))
      .withColumn("sigma", lit(1L)).pipe(materializedBare)
    // forward: levels(h) = (root, node, sigma) settled exactly at hop h
    val levels = scala.collection.mutable.ArrayBuffer(s0)
    var settled = s0.select("root", "node")
    for (_ <- 1 to maxHop) {
      val frontier = levels.last
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("root"), col("dst").as("node"), col("sigma"))
        .join(settled, Seq("root", "node"), "left_anti")
        .groupBy("root", "node").agg(sum("sigma").as("sigma"))
        .pipe(materializedBare)
      levels += next
      settled = settled.union(next.select("root", "node"))
    }
    // backward: δ over the BFS DAG, deepest level seeded at 0
    var delta = levels(maxHop)
      .select(col("root"), col("node"), col("sigma"),
        lit(0.0).as("delta"))
      .pipe(materializedBare)
    var acc = delta.select(col("root"), col("node"), col("delta"))
    for (h <- (maxHop - 1) to 1 by -1) {
      val lvl = levels(h)
      val succ = delta.select(col("root").as("r2"), col("node").as("w"),
        col("sigma").as("sw"), col("delta").as("dw"))
      val contrib = lvl.join(e, lvl("node") === e("src"))
        .join(succ, col("root") === col("r2") && col("dst") === col("w"))
        .groupBy(col("root"), col("node"))
        .agg(sum(col("sigma").cast("double") / col("sw").cast("double")
          * (lit(1.0) + col("dw"))).as("delta"))
      delta = lvl.join(contrib, Seq("root", "node"), "left")
        .select(lvl("root"), lvl("node"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .pipe(materializedBare)
      acc = acc.union(delta.select(col("root"), col("node"), col("delta")))
    }
    // every delta is already (eagerly) checkpointed, so the levels and the
    // edge list are fully consumed — the result reads only acc's deltas.
    // Free them now instead of leaking rounds × frames to query end.
    levels.foreach(freeCheckpoint)
    freeCheckpoint(e)
    acc.groupBy("node").agg(round(sum("delta"), 6).as("betweenness"))
      .orderBy(col("betweenness").desc, col("node")).limit(k)
  }

  /** DuckDB replay of [[brandesBetweenness]] on edge CTEs ending in
    * `e(src, dst)` and a seed CTE `s0(root, node, sigma)`: the identical
    * chained per-hop CTEs forward (anti-join settled, integer σ sums) and
    * backward (left-join contributions, the same σ_v/σ_w·(1+δ_w) tree).
    */
  /** Deterministic hash-guided walks — the DeepWalk/node2vec corpus-prep
    * step (Perozzi KDD'14) made reproducible: from every seed, `steps`
    * hops where the next node is the out-neighbor minimizing the integer
    * mix (cur·1000003 + t·101 + nbr·7919) mod 1000000007 (ties by
    * neighbor id). A hash argmin stands in for the usual RNG draw so both
    * engines — and any two cluster runs — emit the identical walk corpus;
    * swapping in a seeded per-partition RNG keeps the dataflow unchanged.
    * A node with no out-edges ends its walk early.
    *
    * Scale shape: one edges-keyed join + map-side-combinable struct-min
    * argmin per step; state per step is one (seed, cur) row per walk,
    * never a frontier explosion. Node ids must stay below ~9·10¹² for the
    * mix to avoid 64-bit overflow (documented bound).
    */
  def hashWalks(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    // the edge list is probed once per step — persist it like bfs does, or
    // every round replays the caller's edge-building joins from the scan;
    // sizedEdges also pins the per-step probe width ∝ |E| (gr_bfs lever)
    val e = sizedEdges(edges.select(col("src"), col("dst")), dedup = false)
    var cur = seeds.select(col("node").cast("long").as("seed"),
      col("node").cast("long").as("cur"))
    var out = cur.select(col("seed"), lit(0L).as("step"), col("cur").as("node"))
    for (t <- 1 to steps) {
      val h = (col("cur") * 1000003L + lit(t.toLong) * 101L +
        col("dst") * 7919L) % 1000000007L
      // each level is consumed twice (next step's input + the output
      // union); materializedBare it — the bfs frontier discipline, with
      // constant-size plans instead of a per-step unrolled tree (§5)
      cur = cur.join(e, col("cur") === col("src"))
        .groupBy(col("seed"))
        .agg(min(struct(h.as("h"), col("dst").as("d"))).as("m"))
        .select(col("seed"), col("m.d").cast("long").as("cur"))
        .pipe(materializedBare)
      out = out.union(
        cur.select(col("seed"), lit(t.toLong).as("step"), col("cur").as("node")))
    }
    // the result unions only checkpointed levels (plus the raw seed
    // projection) — the probed edge list is no longer referenced
    e.unpersist(blocking = false)
    out.orderBy("seed", "step")
  }

  /** DuckDB replay of [[hashWalks]]: one chained argmin CTE per step. */
  def hashWalksDuckSql(eCtes: String, seedSql: String, steps: Int): String = {
    val stepCtes = (1 to steps).map { t =>
      s"""w$t AS (
         |  SELECT seed, nxt AS cur FROM (
         |    SELECT w.seed, e.dst AS nxt,
         |           row_number() OVER (PARTITION BY w.seed
         |             ORDER BY (w.cur * 1000003 + $t * 101 + e.dst * 7919)
         |                      % 1000000007, e.dst) AS rn
         |    FROM w${t - 1} w JOIN e ON e.src = w.cur) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val levels = (0 to steps)
      .map(t => s"SELECT seed, $t AS step, cur AS node FROM w$t")
      .mkString("\n  UNION ALL ")
    s"""WITH $eCtes,
       |w0 AS ($seedSql),
       |$stepCtes,
       |acc AS (
       |  $levels
       |)
       |SELECT CAST(seed AS BIGINT) AS seed, CAST(step AS BIGINT) AS step,
       |       CAST(node AS BIGINT) AS node
       |FROM acc ORDER BY 1, 2""".stripMargin
  }

  def brandesDuckSql(eCtes: String, seedSql: String, maxHop: Int, k: Int): String = {
    val fwd = (1 to maxHop).map { h =>
      s"""s$h AS (
         |  SELECT f.root, e.dst AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM s${h - 1} f JOIN e ON e.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM set${h - 1} t
         |                    WHERE t.root = f.root AND t.node = e.dst)
         |  GROUP BY 1, 2
         |), set$h AS (
         |  SELECT root, node FROM set${h - 1}
         |  UNION ALL SELECT root, node FROM s$h
         |)""".stripMargin
    }.mkString(",\n")
    val bwd = ((maxHop - 1) to 1 by -1).map { h =>
      s"""c$h AS (
         |  SELECT v.root, v.node,
         |         sum(v.sigma::DOUBLE / w.sigma::DOUBLE * (1.0 + w.delta)) AS delta
         |  FROM s$h v JOIN e ON e.src = v.node
         |  JOIN d${h + 1} w ON w.root = v.root AND w.node = e.dst
         |  GROUP BY 1, 2
         |), d$h AS (
         |  SELECT v.root, v.node, v.sigma, coalesce(c.delta, 0.0) AS delta
         |  FROM s$h v LEFT JOIN c$h c ON c.root = v.root AND c.node = v.node
         |)""".stripMargin
    }.mkString(",\n")
    val accLevels = (1 to maxHop).map { h =>
      if (h == maxHop) s"SELECT root, node, 0.0 AS delta FROM s$h"
      else s"SELECT root, node, delta FROM d$h"
    }.mkString("\n  UNION ALL ")
    s"""WITH $eCtes,
       |s0 AS ($seedSql),
       |set0 AS (SELECT root, node FROM s0),
       |$fwd,
       |d$maxHop AS (SELECT root, node, sigma, 0.0 AS delta FROM s$maxHop),
       |$bwd,
       |acc AS (
       |  $accLevels
       |)
       |SELECT CAST(node AS BIGINT) AS node, round(sum(delta), 6) AS betweenness
       |FROM acc GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT $k""".stripMargin
  }

  // ================================== strongly connected components

  /** Strongly connected components by iterative min-ancestor coloring with
    * in-color backward containment (the coloring step of Orzan's
    * distributed SCC, also the core of Slota et al.'s Multistep method) —
    * the DIRECTED sibling of [[graft.pipeline.Groups.ccLabels]]. Each peel
    * round: (1) propagate color(v) = min id over {u : u →* v} to fixpoint
    * along forward edges; (2) pivots are the nodes with color == id;
    * (3) grow each pivot's SCC backward WITHIN its color class — a node
    * joins iff one of its out-neighbors is marked with its own color
    * (the containment path provably never leaves the class, so this finds
    * exactly SCC(pivot)); (4) label and peel the found SCCs, repeat on the
    * rest. All color classes peel simultaneously, so a round retires every
    * SCC that is minimal in its ancestor order.
    *
    * Scale shape: per-node state is one (id, color) row; every step is an
    * edge equi-join + grouped min or an anti-join — frontier-parallel,
    * nothing on the driver, nothing broadcast. Inner fixpoints are bounded
    * by the remaining diameter (the BFS/CC discipline); outer rounds by
    * the peeling depth of the SCC condensation (1 for most real graphs).
    */
  /** Free the block-store blocks behind a SUPERSEDED localCheckpoint.
    * Eager localCheckpoint persists its RDD (MEMORY_AND_DISK) and nothing
    * ever unpersists it, so an iterative fixpoint accumulates one resident
    * snapshot per iteration — harmless at small scale, but at the 100×
    * rung the stale snapshots overflow the storage fraction and every
    * later iteration pays eviction/spill (measured: gr_scc t60/t30 = 2.04
    * ≈ linear, t100/t60 = 1.95 vs linear 1.67 — the break is storage
    * pressure at the top rung, not an algorithmic term). Unpersist is
    * idempotent and the superseded frame is never referenced again.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // plain localCheckpoint frames carry the persisted RDD directly;
        // materializedBare frames interpose two derived map steps
        // (deserialize-to-Row + re-encode) between the LogicalRDD and the
        // checkpoint-persisted ancestor, so unpersisting lr.rdd alone was
        // a no-op for them (round-7 ADVICE). Walk narrow dependencies to
        // the first persisted ancestor and free THAT; stop at the first
        // hit (deeper persists belong to other still-live frames).
        var frontier: Seq[org.apache.spark.rdd.RDD[_]] = Seq(lr.rdd)
        var hops = 0
        while (frontier.nonEmpty && hops < 8) {
          val (hit, miss) = frontier.partition(
            _.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
          hit.foreach(_.unpersist(blocking = false))
          frontier =
            if (hit.nonEmpty) Nil else miss.flatMap(_.dependencies.map(_.rdd))
          hops += 1
        }
      case _ =>
    }

  def sccLabels(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 25, maxProp: Int = 64): DataFrame = {
    val spark = vertices.sparkSession
    // EVERY loop-carried frame is localCheckpoint'ed (eager): each
    // iteration's plan otherwise embeds the previous iteration's whole
    // tree (next = f(colors) joined back against colors), so lineage —
    // and with it analysis/cache-naming cost — grows EXPONENTIALLY per
    // fixpoint step (measured: a 7-node unit graph pinned 10 cores at
    // 47 GB building plan strings). Truncation keeps every step's plan
    // constant-size; the pagerank/LPA rounds use the same discipline.
    var remV = vertices.select(col("id").cast("long").as("id"))
      .distinct().localCheckpoint()
    var remE = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var out = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", org.apache.spark.sql.types.LongType, nullable = false)
        .add("scc", org.apache.spark.sql.types.LongType, nullable = false))
    var round = 0
    var done = remV.isEmpty
    while (!done && round < maxRounds) {
      round += 1
      // (1) forward min-color fixpoint: color = min ancestor id
      var colors = remV.select(col("id"), col("id").as("color"))
        .localCheckpoint()
      var changed = true
      var it = 0
      while (changed && it < maxProp) {
        it += 1
        val cand = colors.join(remE, colors("id") === remE("src"))
          .groupBy(col("dst").as("id")).agg(min(col("color")).as("cand"))
        val next = colors.join(cand, Seq("id"), "left")
          .select(col("id"),
            least(col("color"), coalesce(col("cand"), col("color"))).as("color"))
          .localCheckpoint()
        changed = next.withColumnRenamed("color", "nc")
          .join(colors, Seq("id"))
          .filter(col("nc") =!= col("color")).limit(1).count() > 0
        freeCheckpoint(colors)   // superseded snapshot — release its blocks
        colors = next
      }
      // a non-converged coloring would SPLIT an SCC across labels — fail
      // loudly instead of returning plausible-looking but wrong output
      if (changed) throw new IllegalStateException(
        s"sccLabels: color fixpoint not converged after maxProp=$maxProp " +
          "iterations (graph ancestor-depth exceeds the bound) — raise maxProp")
      // (2)+(3) pivots grow backward within their color class
      var inScc = colors.filter(col("id") === col("color")).localCheckpoint()
      var frontier = inScc
      var more = true
      var it2 = 0
      while (more && it2 < maxProp) {
        it2 += 1
        val reach = remE.join(frontier, remE("dst") === frontier("id"))
          .select(remE("src").as("id"), frontier("color").as("mcolor"))
          .distinct()
        val add = reach
          .join(colors, Seq("id"))
          .filter(col("mcolor") === col("color"))
          .select(col("id"), col("color"))
          .join(inScc.select("id"), Seq("id"), "left_anti")
          .distinct().localCheckpoint()
        more = !add.isEmpty
        if (more) {
          val grown = inScc.union(add).localCheckpoint()
          freeCheckpoint(inScc)  // superseded by the checkpointed union
          inScc = grown
          frontier = add
        } else freeCheckpoint(add)
      }
      // an unfinished backward growth leaves SCC members labeled as a
      // DIFFERENT (later) component — fail loudly
      if (more) throw new IllegalStateException(
        s"sccLabels: backward containment not converged after maxProp=$maxProp " +
          "iterations (SCC diameter exceeds the bound) — raise maxProp")
      // (4) label and peel
      val outGrown = out.union(inScc.select(col("id"), col("color").as("scc")))
        .localCheckpoint()
      freeCheckpoint(out)
      out = outGrown
      val peeledIds = inScc.select("id")
      val remVNext = remV.join(peeledIds, Seq("id"), "left_anti").localCheckpoint()
      val remENext = remE
        .join(peeledIds.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(peeledIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select("src", "dst").localCheckpoint()
      freeCheckpoint(remV); freeCheckpoint(remE)
      freeCheckpoint(inScc); freeCheckpoint(colors)
      remV = remVNext; remE = remENext
      done = remV.isEmpty
    }
    freeCheckpoint(remV); freeCheckpoint(remE)
    // exhausted peel rounds with vertices remaining ⇒ those vertices would
    // be silently MISSING from the result — fail loudly instead
    if (!done) throw new IllegalStateException(
      s"sccLabels: $maxRounds peel rounds exhausted with unlabeled vertices " +
        "remaining (condensation depth exceeds the bound) — raise maxRounds")
    out
  }

  // ------------------------------------------------------------ Borůvka MSF

  /** Borůvka minimum spanning forest over an undirected weighted edge list
    * `edges(src, dst, w)` — the classic O(log V)-round distributed MST
    * (Borůvka 1926; the schedule every Pregel-style MSF uses). Edges are
    * totally ordered by the DISTINCT tuple (w, a, b) — (a, b) is unique
    * after the per-pair min-w dedup, and `min(struct(w, a, b))` is the
    * lexicographic argmin, so the forest is UNIQUE with NO bound on node
    * ids or weights (any long works; the pre-round-8 packed-long key
    * required ids < 2²² and w < 2¹⁸) and the fixed rounds×jumps schedule
    * replays verbatim in the DuckDB oracle ([[boruvkaDuckSql]]). Each
    * round: every component hooks its minimum-tuple incident edge
    * (distinct tuples ⇒ the only hook cycles are mutual 2-cycles, broken
    * toward the smaller component id), labels collapse through `jumps`
    * pointer-doubling steps (covers chains up to 2^jumps), and the chosen
    * edges join the forest. Throws if label chains outrun the doubling
    * depth or cross-component edges survive all rounds — loud, never
    * silently-partial output.
    *
    * Scale shape: each round is two comp-keyed joins, one min-aggregate on
    * component keys, and jumps small self-joins on the (≤ #components)-row
    * parent table; every loop-carried frame is localCheckpoint'ed with the
    * superseded snapshot freed (the sccLabels discipline). Rounds halve the
    * component count at minimum, so 8 rounds cover 2⁸ components per tree
    * and real graphs converge in 3-5.
    */
  /** Materialize `df` (eager localCheckpoint) and rewrap the checkpointed
    * RDD in a BARE LogicalRDD. The rewrap is what matters: a plain
    * localCheckpoint CARRIES the origin plan's computed statistics, and in
    * an iterative self-join loop those sizeInBytes estimates MULTIPLY —
    * the pointer-doubling jumps square them every step, and by a few
    * rounds the driver sits in million-digit BigInteger products inside
    * SizeInBytesOnlyStatsPlanVisitor (observed: 22 min of driver CPU on a
    * 160-node graph before the fix). The bare wrapper falls back to
    * defaultSizeInBytes, keeping every product word-sized. Blocks are
    * shared with the checkpoint, so [[freeCheckpoint]] on the returned
    * frame frees them.
    */
  private def materializedBare(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    df.sparkSession.createDataFrame(ck.rdd, df.schema)
  }

  def boruvkaMsf(edges: DataFrame, rounds: Int = 8, jumps: Int = 6): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min("w").as("w"))
      .pipe(materializedBare)
    var comp = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node"))).distinct()
      .withColumn("comp", col("node")).pipe(materializedBare)
    // lineage-free empty seed: deriving it from und (filter(false)) would
    // let the round-1 freeCheckpoint(prevChosen) walk INTO und's checkpoint
    // and free blocks the final result still reads
    var chosen = edges.sparkSession.createDataFrame(
      edges.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("a", org.apache.spark.sql.types.LongType, nullable = false)
        .add("b", org.apache.spark.sql.types.LongType, nullable = false))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val ec = und
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .select(col("ca"), col("cb"), col("a"), col("b"), col("w"))
        .pipe(materializedBare)
      if (ec.isEmpty) { done = true; freeCheckpoint(ec) }
      else {
        val inc = ec.select(col("ca").as("c"), col("cb").as("t"),
            col("a"), col("b"), col("w"))
          .union(ec.select(col("cb").as("c"), col("ca").as("t"),
            col("a"), col("b"), col("w")))
        // argmin incident edge per component on the distinct (w, a, b)
        // order, TWO-PHASE: a plain long min(w) first (HashAggregate —
        // a single min(struct(w, a, b, t)) agg is correct but its struct
        // buffer forces SortAggregate over all 2m incident rows every
        // round, measured ~40% slower at the 100× ladder rung), then the
        // lexicographic (a, b) tie-break as a struct min over ONLY the
        // min-weight survivors (≈ one row per component; both the agg and
        // the join reuse the same hash-partition(c) exchange). An edge
        // appears at most once per c group, so the trailing t never
        // tie-breaks. No packed-key id/weight ceiling.
        val minw = inc.groupBy("c").agg(min(col("w")).as("mw"))
        val hook = inc.join(minw, "c").filter(col("w") === col("mw"))
          .groupBy("c").agg(
            min(struct(col("a"), col("b"), col("t"))).as("m"))
          .select(col("c"), col("m.t").as("t"), col("m.a").as("a"),
            col("m.b").as("b"))
          .pipe(materializedBare)
        val prevChosen = chosen
        chosen = materializedBare(
          chosen.union(hook.select(col("a"), col("b"))).distinct())
        freeCheckpoint(prevChosen)
        // mutual 2-cycles break toward the smaller component id
        var par = hook
          .join(hook.select(col("c").as("t"), col("t").as("tt")), Seq("t"), "left")
          .select(col("c"),
            when(col("tt") === col("c"), least(col("c"), col("t")))
              .otherwise(col("t")).as("p"))
          .pipe(materializedBare)
        (1 to jumps).foreach { _ =>
          val prev = par
          par = par
            .join(par.select(col("c").as("p"), col("p").as("pp")), Seq("p"), "left")
            .select(col("c"), coalesce(col("pp"), col("p")).as("p"))
            .pipe(materializedBare)
          freeCheckpoint(prev)
        }
        // the doubling depth must have flattened every chain
        val unstable = par
          .join(par.select(col("c").as("p"), col("p").as("pp")), Seq("p"), "left")
          .filter(col("pp").isNotNull && col("pp") =!= col("p"))
        require(unstable.isEmpty,
          s"boruvkaMsf: parent chains deeper than 2^$jumps after round $r — raise jumps")
        val prevComp = comp
        comp = comp
          .join(par.select(col("c").as("comp"), col("p")), Seq("comp"), "left")
          .select(col("node"), coalesce(col("p"), col("comp")).as("comp"))
          .pipe(materializedBare)
        freeCheckpoint(prevComp)
        freeCheckpoint(ec)
        freeCheckpoint(par)
        freeCheckpoint(hook)
      }
      r += 1
    }
    if (!done) {
      val residual = und
        .join(comp.select(col("node").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("node").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      require(residual.isEmpty,
        s"boruvkaMsf: $rounds rounds exhausted with cross-component edges left — raise rounds")
    }
    // the final labeling is not referenced by the result — free it now
    // (und and chosen stay persisted: the returned frame reads both)
    freeCheckpoint(comp)
    und.join(chosen, Seq("a", "b"))
      .select(col("a"), col("b"), col("w"))
      .orderBy(col("w"), col("a"), col("b"))
  }

  /** DuckDB replay of [[boruvkaMsf]]: the identical fixed rounds×jumps
    * schedule unrolled as CTEs over a caller-supplied base relation
    * producing (src, dst, w). Rounds past convergence are no-ops (no
    * cross edges ⇒ no hooks ⇒ labels unchanged), exactly like the Spark
    * loop's early break.
    */
  def boruvkaDuckSql(baseSql: String, rounds: Int = 8, jumps: Int = 6): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH base AS MATERIALIZED ($baseSql),
      |und AS MATERIALIZED (
      |  SELECT a, b, min(w) AS w FROM (
      |    SELECT least(src, dst) AS a, greatest(src, dst) AS b, w
      |    FROM base WHERE src <> dst) GROUP BY 1, 2
      |), c0 AS MATERIALIZED (
      |  SELECT node, node AS comp FROM (
      |    SELECT a AS node FROM und UNION SELECT b FROM und)
      |)""".stripMargin
    (1 to rounds).foreach { r =>
      val pc = s"c${r - 1}"
      sb ++= s""",
        |ec_$r AS MATERIALIZED (
        |  SELECT ca.comp AS ca, cb.comp AS cb, u.a, u.b, u.w
        |  FROM und u JOIN $pc ca ON ca.node = u.a JOIN $pc cb ON cb.node = u.b
        |  WHERE ca.comp <> cb.comp
        |), inc_$r AS MATERIALIZED (
        |  SELECT ca AS c, cb AS t, a, b, w FROM ec_$r
        |  UNION ALL SELECT cb, ca, a, b, w FROM ec_$r
        |), hk_$r AS MATERIALIZED (
        |  SELECT c, t, a, b FROM (
        |    SELECT c, t, a, b,
        |           row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
        |    FROM inc_$r) WHERE rn = 1
        |), p_${r}_0 AS MATERIALIZED (
        |  SELECT h.c, CASE WHEN h2.t = h.c THEN least(h.c, h.t) ELSE h.t END AS p
        |  FROM hk_$r h LEFT JOIN hk_$r h2 ON h2.c = h.t
        |)""".stripMargin
      (1 to jumps).foreach { j =>
        sb ++= s""",
          |p_${r}_$j AS MATERIALIZED (
          |  SELECT x.c, coalesce(y.p, x.p) AS p
          |  FROM p_${r}_${j - 1} x LEFT JOIN p_${r}_${j - 1} y ON y.c = x.p
          |)""".stripMargin
      }
      sb ++= s""",
        |c$r AS MATERIALIZED (
        |  SELECT c.node, coalesce(p.p, c.comp) AS comp
        |  FROM $pc c LEFT JOIN p_${r}_$jumps p ON p.c = c.comp
        |)""".stripMargin
    }
    val chosen = (1 to rounds).map(r => s"SELECT a, b FROM hk_$r").mkString(" UNION ")
    sb ++= s"""
      |SELECT u.a, u.b, u.w FROM und u
      |JOIN ($chosen) ch ON ch.a = u.a AND ch.b = u.b
      |ORDER BY u.w, u.a, u.b""".stripMargin
    sb.toString
  }
}
