package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Graphs, Groups, PageRank}
import graft.queries.Shared._

/** Graph queries (`gr_*`) over edges derived from the TPC-H tables:
  * ranks, components, paths and cores.
  */
object GrQueries {

  /** The customer→supplier trade graph: distinct (customer, supplier)
    * pairs of lineitem⋈orders, node ids parity-disambiguated (customers
    * even, suppliers odd).
    */
  private def tradePairs(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()

  /** Oracle CTE `eraw` of [[tradePairs]]. */
  private val TradePairsCte =
    """eraw AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)""".stripMargin

  /** An edge list and its reverse: the undirected graph as directed edges. */
  private def bothWays(e: DataFrame): DataFrame =
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** Oracle CTEs `eraw`, `e` of `bothWays(tradePairs)`. */
  private val TradeEdgesCte = TradePairsCte +
    """, e AS (
      |  SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw
      |)""".stripMargin

  /** Seed nodes: the nation-0 customers. */
  private def nation0Seeds(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))

  /** Seed nodes: the landmark batch, every 500th customer. */
  private def landmarkSeeds(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer").filter(col("c_custkey") % 500 === 1)
      .select((col("c_custkey") * 2).as("node"))

  /** Oracle of `Graphs.bfsPerSource(bothWays(tradePairs), landmarkSeeds,
    * maxHop = 3)`: the recursive walk from every landmark, then `d(root,
    * node, hop)` = the settle-first (minimum) hop per pair.
    */
  private val LandmarkHopsCtes = "WITH RECURSIVE " + TradeEdgesCte +
    """, walk(root, node, hop) AS (
      |  SELECT c_custkey * 2, c_custkey * 2, 0 FROM customer
      |  WHERE c_custkey % 500 = 1
      |  UNION
      |  SELECT w.root, e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.node
      |  WHERE w.hop < 3
      |), d AS (
      |  SELECT root, node, min(hop) AS hop FROM walk GROUP BY 1, 2
      |)""".stripMargin

  /** The part co-order graph over `li` (a lineitem selection): one
    * (src < dst) edge per pair of parts on the same order, once per order.
    */
  private def coOrderEdges(li: DataFrame): DataFrame = {
    val p = li.select(col("l_orderkey"), col("l_partkey"))
    p.as("x").join(p.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
  }

  /** Oracle CTE `und` of `coOrderEdges(lineitem)`, deduplicated. */
  private val CoOrderCte =
    """und AS (
      |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |)""".stripMargin

  /** Oracle CTE `tri`: every triangle of `und` once, as u < v < w. */
  private val TrianglesCte =
    """, tri AS (
      |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |  FROM und e1 JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
      |)""".stripMargin

  /** The nation-0 customers' distinct (customer `c`, supplier `sup`) pairs. */
  private def nation0Suppliers(s: SparkSession, dir: String): DataFrame = {
    val cust0 = T(s, dir, "customer").filter(col("c_nationkey") === 0)
      .select(col("c_custkey"))
    T(s, dir, "lineitem")
      .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(cust0, col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct()
  }

  /** Oracle CTE `e` of [[nation0Suppliers]]. */
  private val Nation0SuppliersCte =
    """e AS (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON c_custkey = o_custkey AND c_nationkey = 0
      |)""".stripMargin

  private[graft] val all: Seq[QuerySpec] = Seq(
    // PageRank over the customer↔supplier trade graph (distinct pairs from
    // lineitem⋈orders, both directions, parity-disambiguated node ids) —
    // see pipeline/PageRank.scala for the per-iteration plan shape
    QuerySpec("gr_pagerank", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      PageRank.pageRank(edges, iters = 3, damping = 0.85)
        .orderBy(col("rank").desc, col("node")).limit(25)
    },
      PageRank.pageRankDuckSql(iters = 3, damping = 0.85, topK = 25)),

    // bounded-round k-core peeling over the trade graph: 4 synchronous
    // drop-degree-<25 rounds, surviving (node, degree) pairs — the dense-core
    // extraction every community/influence pipeline starts from
    // synchronous label propagation over the customer–supplier trade graph:
    // 3 rounds, frequency argmax with min-label ties — exact integer state
    QuerySpec("gr_lpa", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      Graphs.labelPropagation(edges, rounds = 3)
    },
      Graphs.lpaDuckSql(TradeEdgesCte, rounds = 3)),

    QuerySpec("gr_kcore", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      Graphs.kcorePeel(edges, k = 25, rounds = 4)
        .orderBy(col("node"))
    },
      Graphs.kcoreDuckSql(
        TradePairsCte + """, e0 AS (
          |  SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw
          |)""".stripMargin, k = 25, rounds = 4)),

    // personalized PageRank from the nation-0 customer seed set: uniform
    // teleport over the seeds only (topic-sensitive PageRank, Haveliwala
    // 2002) — proximity-to-community scores, positive ranks top-25
    QuerySpec("gr_ppr", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = nation0Seeds(s, dir)
      PageRank.personalizedPageRank(edges, seeds, iters = 3, damping = 0.85)
        .filter(col("rank") > 0)
        .orderBy(col("rank").desc, col("node")).limit(25)
    },
      PageRank.pprDuckSql(iters = 3, damping = 0.85, topK = 25)),

    // HITS hubs/authorities on the DIRECTED trade graph (customer→supplier):
    // 2 exact-integer power-iteration rounds, top-20 per side with a final
    // display-only max ratio — big buyers = hubs, widely-bought-from
    // suppliers = authorities
    QuerySpec("gr_hits", (s, dir) => {
      val e = tradePairs(s, dir)
      Graphs.hits(e, iters = 2, k = 20)
        .orderBy(col("side"), col("score_raw").desc, col("node"))
    },
      // bounded-depth recursive CTE: UNION dedups (node, hop) pairs globally,
      // so the working set stays ≤ nodes × (maxHop+1) — min(hop) = BFS distance
      Graphs.hitsDuckSql(
        """e AS (
          |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |)""".stripMargin, iters = 2, k = 20)),

    // Katz centrality over the UNDIRECTED trade graph (both directions of
    // the cust-supp edge list): exact integer truncated walk sums with
    // beta=1/4 scaled by 4^3 — the walk-count centrality beside PageRank
    // (random-walk) and HITS (mutual reinforcement)
    QuerySpec("gr_katz", (s, dir) => {
      Graphs.katz(bothWays(tradePairs(s, dir)), iters = 3, k = 25)
        .orderBy(col("score_raw").desc, col("node"))
    },
      Graphs.katzDuckSql(TradeEdgesCte, iters = 3, k = 25)),

    // degree assortativity of the trade graph: Pearson correlation of
    // endpoint degrees over the symmetric edge list, computed from six
    // EXACT integer moments (one aggregate) with the closed-form correlation
    // as the only float math — the classic "do hubs link to hubs" network
    // statistic (strongly negative on a bipartite hub-spoke graph)
    QuerySpec("gr_assortativity", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir)).persist()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val ed = edges
        .join(deg.select(col("src"), col("deg").as("dx")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      val m = ed.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      def d(c: String) = col(c).cast("double")
      m.select(col("n"),
        round((d("n") * d("sxy") - d("sx") * d("sy"))
          / (sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
            * sqrt(d("n") * d("syy") - d("sy") * d("sy"))), 6).as("assortativity"))
    },
      "WITH " + TradeEdgesCte + """, deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |ed AS (
        |  SELECT d1.deg AS dx, d2.deg AS dy
        |  FROM e JOIN deg d1 ON d1.src = e.src JOIN deg d2 ON d2.src = e.dst
        |), m AS (
        |  SELECT count(*)::BIGINT AS n,
        |         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |         CAST(sum(dy * dy) AS BIGINT) AS syy,
        |         CAST(sum(dx * dy) AS BIGINT) AS sxy
        |  FROM ed
        |)
        |SELECT n,
        |       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |         / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |            * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
        |         AS assortativity
        |FROM m""".stripMargin),

    // multi-source BFS over the same trade graph: min hop from any nation-0
    // customer, 3 frontier rounds (customer→supplier→customer→supplier on
    // the bipartite graph) — Graphs.bfs, the Pregel-shaped frontier plan
    // rich-club coefficient (Zhou & Mondragón 2004): do the top-50 highest-
    // degree nodes preferentially connect to EACH OTHER? φ = edges inside
    // the club / C(k,2) — exact integers (degree ties broken by node id);
    // the club is a 50-row broadcast, the edge probe two semi-joins
    QuerySpec("gr_rich_club", (s, dir) => {
      val eraw = tradePairs(s, dir)
      val edges = bothWays(eraw)
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val club = deg
        .orderBy(col("deg").desc, col("node")).limit(50)
        .select(col("node"))
      val inClub = eraw
        .join(broadcast(club.select(col("node").as("src"))), Seq("src"), "left_semi")
        .join(broadcast(club.select(col("node").as("dst"))), Seq("dst"), "left_semi")
      inClub.agg(count(lit(1)).as("club_edges"))
        .select(lit(50L).as("k"), col("club_edges"),
          round(col("club_edges").cast("double") /
            lit((50L * 49L / 2).toDouble), 6).as("phi"))
    },
      "WITH " + TradeEdgesCte + """, d AS (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
        |), club AS (
        |  SELECT node FROM d ORDER BY deg DESC, node LIMIT 50
        |)
        |SELECT CAST(50 AS BIGINT) AS k, count(*) AS club_edges,
        |       round(CAST(count(*) AS DOUBLE) / 1225.0, 6) AS phi
        |FROM eraw
        |WHERE src IN (SELECT node FROM club) AND dst IN (SELECT node FROM club)""".stripMargin),

    // log₂-binned degree distribution over the bipartite order graph — the
    // power-law sanity check (straight line on log-log ⇒ scale-free) every
    // graph pipeline runs before trusting sampled algorithms; bins via an
    // exact integer CASE ladder (no float log at bin edges), one degree
    // aggregate + one tiny bin aggregate
    QuerySpec("gr_degree_hist", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val bin = (0 until 20).foldRight(lit(20L)) { (k, els) =>
        when(col("deg") < (1L << (k + 1)), k.toLong).otherwise(els)
      }
      deg.withColumn("bin", bin)
        .groupBy("bin")
        .agg(count(lit(1)).as("nodes"), sum("deg").as("deg_sum"),
          min("deg").as("min_deg"), max("deg").as("max_deg"))
        .orderBy("bin")
    },
      {
        val caseLadder = (0 until 20).reverse.foldLeft("20") { (els, k) =>
          s"CASE WHEN deg < ${1L << (k + 1)} THEN $k ELSE $els END"
        }
        s"""WITH $TradeEdgesCte, d AS (
           |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
           |)
           |SELECT CAST($caseLadder AS BIGINT) AS bin, count(*) AS nodes,
           |       CAST(sum(deg) AS BIGINT) AS deg_sum,
           |       CAST(min(deg) AS BIGINT) AS min_deg,
           |       CAST(max(deg) AS BIGINT) AS max_deg
           |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // deterministic hash-guided walks over the bipartite order graph — the
    // DeepWalk corpus-prep step with a hash argmin standing in for the RNG
    // draw, so the walk corpus is bit-reproducible across engines and runs
    QuerySpec("gr_walks", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = nation0Seeds(s, dir)
      Graphs.hashWalks(edges, seeds, steps = 4)
    },
      Graphs.hashWalksDuckSql(
        TradeEdgesCte,
        "SELECT c_custkey * 2 AS seed, c_custkey * 2 AS cur FROM customer WHERE c_nationkey = 0",
        steps = 4)),

    QuerySpec("gr_bfs", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = nation0Seeds(s, dir)
      Graphs.bfs(edges, seeds, maxHop = 3)
        .select(col("node"), col("hop").cast("long").as("hop"))
        .orderBy(col("node"))
    },
      "WITH RECURSIVE " + TradeEdgesCte + """, walk(node, hop) AS (
        |  SELECT c_custkey * 2, 0 FROM customer WHERE c_nationkey = 0
        |  UNION
        |  SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.hop < 3
        |)
        |SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS BIGINT) AS hop
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),

    // harmonic closeness centrality from a landmark batch: per-source
    // bounded BFS (Graphs.bfsPerSource — one (root,node,hop) row per settled
    // pair), then harmonic = Σ 1/hop computed from the EXACT integer
    // per-hop counts, so the only float ops are two divisions and two adds
    // replayed identically by the oracle
    QuerySpec("gr_closeness", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = landmarkSeeds(s, dir)
      def nh(h: Int) = sum(when(col("hop") === h, 1L).otherwise(0L)).as(s"n$h")
      Graphs.bfsPerSource(edges, seeds, maxHop = 3)
        .filter(col("hop") > 0)
        .groupBy("root").agg(nh(1), nh(2), nh(3))
        .select(col("root"), col("n1"), col("n2"), col("n3"),
          round(col("n1") + col("n2") / lit(2.0) + col("n3") / lit(3.0), 6)
            .as("harmonic"))
        .orderBy(col("root"))
    },
      // per-root walk replay: the recursive UNION dedups (root, node, hop)
      // triples, min(hop) per (root, node) = settle-first BFS; harmonic from
      // integer hop counts with the identical ((n1 + n2/2) + n3/3) shape
      LandmarkHopsCtes + """, c AS (
        |  SELECT CAST(root AS BIGINT) AS root,
        |         CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM d WHERE hop > 0 GROUP BY 1
        |)
        |SELECT root, n1, n2, n3,
        |       round(n1 + n2 / 2.0 + n3 / 3.0, 6) AS harmonic
        |FROM c ORDER BY root""".stripMargin),

    // bounded-horizon effective diameter (the HyperANF d90 readout) from
    // the same landmark batch: per-hop settled-pair counts are exact
    // integers, d90 interpolates inside the first hop whose cumulative
    // count crosses 0.9·total — the 3-row window after the BFS is the
    // only non-distributed step
    QuerySpec("gr_effdiam", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = landmarkSeeds(s, dir)
      val W = org.apache.spark.sql.expressions.Window
      val hist = Graphs.bfsPerSource(edges, seeds, maxHop = 3)
        .filter(col("hop") > 0)
        .groupBy("hop").agg(count(lit(1)).as("nh"))
      hist
        .withColumn("cum", sum("nh").over(
          W.orderBy("hop").rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("total", sum("nh").over(
          W.orderBy("hop").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
        .withColumn("target", lit(0.9) * col("total"))
        .filter(col("cum") >= col("target"))
        .orderBy("hop").limit(1)
        .select(col("total").as("n_pairs"), col("hop").cast("long").as("h90"),
          round(col("hop") - lit(1.0)
            + (col("target") - (col("cum") - col("nh"))) / col("nh"), 6).as("d90"))
    },
      // reuses the gr_closeness walk (UNION-dedup per-root BFS, min(hop)
      // settle), then the identical cumulative-histogram interpolation
      LandmarkHopsCtes + """, hist AS (
        |  SELECT hop, count(*) AS nh FROM d WHERE hop > 0 GROUP BY 1
        |), c AS (
        |  SELECT hop, nh,
        |         sum(nh) OVER (ORDER BY hop) AS cum,
        |         sum(nh) OVER () AS total
        |  FROM hist
        |), q AS (
        |  SELECT *, 0.9 * total AS target FROM c
        |  WHERE cum >= 0.9 * total ORDER BY hop LIMIT 1
        |)
        |SELECT CAST(total AS BIGINT) AS n_pairs, CAST(hop AS BIGINT) AS h90,
        |       round(hop - 1.0 + (target - (cum - nh)) / nh, 6) AS d90
        |FROM q""".stripMargin),

    // bounded-depth Brandes betweenness from the same landmark batch:
    // forward BFS accumulates EXACT integer shortest-path counts σ per
    // (root, node), the backward pass walks the BFS DAG with
    // δ(v) = Σ σv/σw·(1+δw) — nothing broadcast, state ≤ |seeds|·|V| rows
    QuerySpec("gr_betweenness", (s, dir) => {
      val edges = bothWays(tradePairs(s, dir))
      val seeds = landmarkSeeds(s, dir)
      Graphs.brandesBetweenness(edges, seeds, maxHop = 3, k = 30)
    },
      Graphs.brandesDuckSql(
        TradeEdgesCte,
        seedSql = "SELECT c_custkey * 2 AS root, c_custkey * 2 AS node, " +
          "1::BIGINT AS sigma FROM customer WHERE c_custkey % 500 = 1",
        maxHop = 3, k = 30)),

    // partition quality: Newman modularity of the NATION partition over the
    // trade graph, per community — Q_c = e_c/m − (d_c/2m)², every input an
    // exact integer count so the two divisions and one square are the only
    // float ops (bit-identical in the replay). Two node-keyed joins + two
    // count aggregates — the evaluation half of any community-detection
    // loop, as a standalone oracle-gated operator
    QuerySpec("gr_modularity", (s, dir) => {
      val e = tradePairs(s, dir)
      val com = T(s, dir, "customer")
        .select((col("c_custkey") * 2).as("node"), col("c_nationkey").cast("long").as("com"))
        .unionByName(T(s, dir, "supplier")
          .select((col("s_suppkey") * 2 + 1).as("node"), col("s_nationkey").cast("long").as("com")))
      val ed = e
        .join(com.select(col("node").as("src"), col("com").as("sc")), "src")
        .join(com.select(col("node").as("dst"), col("com").as("dc")), "dst")
        .persist()
      val mrow = ed.agg(count(lit(1)).cast("double").as("m2"))
      val deg = ed.select(col("sc").as("com")).unionAll(ed.select(col("dc").as("com")))
        .groupBy("com").agg(count(lit(1)).as("d_sum"))
      val intra = ed.filter(col("sc") === col("dc"))
        .groupBy(col("sc").as("com")).agg(count(lit(1)).as("e_in"))
      deg.join(intra, Seq("com"), "left")
        .select(col("com"), col("d_sum"), coalesce(col("e_in"), lit(0L)).as("e_in"))
        .crossJoin(mrow)
        .select(col("com"), col("d_sum"), col("e_in"),
          round(col("e_in").cast("double") / col("m2")
            - (col("d_sum").cast("double") / (lit(2.0) * col("m2")))
              * (col("d_sum").cast("double") / (lit(2.0) * col("m2"))), 6).as("q_c"))
        .orderBy(col("com"))
    },
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), com AS (
        |  SELECT c_custkey * 2 AS node, CAST(c_nationkey AS BIGINT) AS com FROM customer
        |  UNION ALL
        |  SELECT s_suppkey * 2 + 1, CAST(s_nationkey AS BIGINT) FROM supplier
        |), ed AS (
        |  SELECT sc.com AS sc, dc.com AS dc
        |  FROM e JOIN com sc ON sc.node = e.src JOIN com dc ON dc.node = e.dst
        |), m AS (SELECT count(*)::DOUBLE AS m2 FROM ed),
        |deg AS (
        |  SELECT com, count(*)::BIGINT AS d_sum
        |  FROM (SELECT sc AS com FROM ed UNION ALL SELECT dc FROM ed)
        |  GROUP BY 1
        |), intra AS (
        |  SELECT sc AS com, count(*)::BIGINT AS e_in FROM ed WHERE sc = dc GROUP BY 1
        |)
        |SELECT deg.com, deg.d_sum, coalesce(intra.e_in, 0) AS e_in,
        |  round(coalesce(intra.e_in, 0)::DOUBLE / m.m2
        |      - (deg.d_sum::DOUBLE / (2.0 * m.m2)) * (deg.d_sum::DOUBLE / (2.0 * m.m2)),
        |    6) AS q_c
        |FROM deg LEFT JOIN intra ON intra.com = deg.com CROSS JOIN m
        |ORDER BY deg.com""".stripMargin),

    // weighted sibling: bounded Bellman-Ford over the trade graph, edge
    // weight = min quantity ever shipped on the (customer, supplier) pair
    // (integral doubles → exact long arithmetic round for round)
    QuerySpec("gr_sssp", (s, dir) => {
      val eraw = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
      val edges = eraw.union(eraw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val seeds = nation0Seeds(s, dir)
      Graphs.sssp(edges, seeds, rounds = 3)
        .orderBy(col("node"))
    },
      // chained-CTE Bellman-Ford replay: one relax-union-min block per round,
      // integer weights so every round hash-matches exactly
      {
        def relax(prev: String, out: String) =
          s"""$out AS (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM $prev
             |    UNION ALL
             |    SELECT e.dst AS node, d.dist + e.w AS dist
             |    FROM $prev d JOIN e ON e.src = d.node) GROUP BY 1
             |)""".stripMargin
        s"""WITH eraw AS (
           |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
           |         CAST(min(l_quantity) AS BIGINT) AS w
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2
           |), e AS (
           |  SELECT src, dst, w FROM eraw UNION ALL SELECT dst, src, w FROM eraw
           |), d0 AS (
           |  SELECT CAST(c_custkey * 2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
           |  FROM customer WHERE c_nationkey = 0
           |),
           |${relax("d0", "d1")},
           |${relax("d1", "d2")},
           |${relax("d2", "d3")}
           |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
      }),

    // Borůvka minimum spanning forest over the customer↔supplier trade
    // graph: min-quantity edge weights made DISTINCT by the composite
    // (w, a, b) key, so the forest is unique and the fixed rounds×jumps
    // hook/pointer-double schedule replays verbatim in the oracle
    QuerySpec("gr_mst", (s, dir) => {
      val edges = T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"),
          col("l_quantity").cast("long").as("w"))
      Graphs.boruvkaMsf(edges)
    },
      // Borůvka replay: identical unrolled rounds×jumps schedule
      Graphs.boruvkaDuckSql(
        """SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
          |       CAST(l_quantity AS BIGINT) AS w
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)),

    // triangle counts over the part co-order graph (parts appearing in the
    // same order) via degree-ordered orientation — see pipeline/Graphs
    QuerySpec("gr_triangles", (s, dir) => {
      val edges = coOrderEdges(T(s, dir, "lineitem"))
      Graphs.triangleCounts(edges)
        .orderBy(col("n_tri").desc, col("node")).limit(25)
    },
      // triangles enumerated once as u<v<w over the distinct undirected edge
      // set — equivalent to the Spark degree-ordered orientation (both count
      // each triangle exactly once; orientation only changes the JOIN ORDER)
      "WITH " + CoOrderCte + TrianglesCte + """
        |SELECT node, count(*) AS n_tri FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri
        |) GROUP BY 1 ORDER BY n_tri DESC, node LIMIT 25""".stripMargin),

    // DOULION edge-sampled triangle estimate: the
    // PRODUCTION sibling of gr_triangles at scale — hash-coin keeps ~p of
    // the edges, exact count on the sample, 1/p³ unbiased scale-up. The
    // replayable coin makes the sampled subgraph (and thus the estimate)
    // oracle-checkable; wedge work drops ∝ p² vs the exact count
    QuerySpec("gr_triangles_approx", (s, dir) => {
      val edges = coOrderEdges(T(s, dir, "lineitem"))
      Graphs.triangleCountApprox(edges, p = 0.2)
    },
      // the hash-coin sample replayed verbatim, then the same u<v<w triangle
      // enumeration; estimate = round(tri · (m/keepLt)³) with the identical
      // IEEE expression tree (p = 0.2 ⇒ keepLt = round(0.2·1000003) = 200001)
      "WITH " + CoOrderCte + """, samp AS (
        |  SELECT a, b FROM und
        |  WHERE (a * 2654435761 + b * 40503) % 1000003 < 200001
        |), tri AS (
        |  SELECT count(*) AS tri_sampled
        |  FROM samp e1 JOIN samp e2 ON e2.a = e1.b
        |  JOIN samp e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT (SELECT count(*) FROM samp)::BIGINT AS n_kept_edges,
        |       tri_sampled::BIGINT AS tri_sampled,
        |       CAST(round(tri_sampled * power(1000003.0 / 200001.0, 3))
        |            AS BIGINT) AS tri_est
        |FROM tri""".stripMargin),

    // k-truss of the co-order graph restricted to every-4th part (keeps the
    // per-round triangle re-enumeration oracle-sized): peel edges on < k−2
    // triangles to the fixpoint subgraph — the edge-wise k-core
    // strengthening; surviving edges reported with their final support
    QuerySpec("gr_ktruss", (s, dir) => {
      val edges = coOrderEdges(T(s, dir, "lineitem").filter(col("l_partkey") % 4 === 0))
      Graphs.trussPeel(edges, k = 5, rounds = 7)
        .orderBy(col("a"), col("b"))
    },
      Graphs.trussDuckSql(
        """e0 AS MATERIALIZED (
          |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          |  FROM lineitem x JOIN lineitem y
          |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
          |  WHERE x.l_partkey % 4 = 0 AND y.l_partkey % 4 = 0)""".stripMargin,
        k = 5, rounds = 7)),

    // local clustering coefficients over the same co-order graph: exact
    // triangles + degrees, one IEEE division of exact ints per node
    QuerySpec("gr_clustering", (s, dir) => {
      val edges = coOrderEdges(T(s, dir, "lineitem"))
      Graphs.clusteringCoefficients(edges)
        .orderBy(col("coeff").desc, col("node")).limit(25)
    },
      "WITH " + CoOrderCte + """, deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und
        |  ) GROUP BY 1
        |)""".stripMargin + TrianglesCte + """, tcount AS (
        |  SELECT node, count(*) AS n_tri FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri
        |  ) GROUP BY 1
        |)
        |SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
        |       round(2.0 * coalesce(t.n_tri, 0) / (d.deg * (d.deg - 1)), 6) AS coeff
        |FROM deg d LEFT JOIN tcount t ON d.node = t.node
        |WHERE d.deg >= 2
        |ORDER BY coeff DESC, d.node LIMIT 25""".stripMargin),

    // distributed connected components (hash-to-min + pointer jumping,
    // smallEdgeLimit=0 forces the SCALE path — the driver union-find
    // shortcut is oracle-covered via dd_neardup_groups) over path graphs
    // whose component structure is known by construction: consecutive
    // customers within a (nation, acctbal-band) group are chained, so the
    // true label is min(custkey) per group while the engine must DISCOVER
    // it by propagation
    QuerySpec("gr_cc", (s, dir) => {
      val grouped = T(s, dir, "customer").select(
        col("c_custkey").cast("long").as("v"),
        col("c_nationkey"), floor(col("c_acctbal") / 1000).as("band"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("c_nationkey", "band").orderBy("v")
      val edges = grouped.withColumn("prev", lag(col("v"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("src"), col("v").as("dst"))
      Groups.ccLabels(grouped.select(col("v").as("id")), edges,
          smallEdgeLimit = 0L)
        .orderBy(col("id"))
    },
      """WITH g AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id, c_nationkey,
        |         floor(c_acctbal / 1000) AS band
        |  FROM customer
        |)
        |SELECT id, min(id) OVER (PARTITION BY c_nationkey, band) AS label
        |FROM g ORDER BY id""".stripMargin),

    // DIRECTED strongly connected components (the directed sibling of
    // gr_cc): min-ancestor coloring + in-color backward containment over
    // the nation-level trade digraph (supplier nation → customer nation,
    // deterministically sparsified so the condensation has real structure);
    // the oracle replays mutual reachability from the recursive transitive
    // closure — feasible because the GATE graph is nation-sized while the
    // Spark plan is the frontier-parallel peeling that runs at any |V|
    QuerySpec("gr_scc", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val sup = T(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val ord = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val cust = T(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val edges = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .select(col("s_nationkey").cast("long").as("src"),
          col("c_nationkey").cast("long").as("dst")).distinct()
        .filter((col("src") * 31 + col("dst") * 17) % 3 === 0)
      val verts = T(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"))
      Graphs.sccLabels(verts, edges)
        .groupBy(col("scc"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("scc"))
    },
      // mutual reachability from the recursive transitive closure: scc(v) =
      // min(v, min{u : v →* u AND u →* v}) — the n²-feasible definition on
      // the nation-sized gate graph
      """WITH RECURSIVE e AS (
        |  SELECT src, dst FROM (
        |    SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS src,
        |           CAST(c_nationkey AS BIGINT) AS dst
        |    FROM lineitem
        |      JOIN supplier ON l_suppkey = s_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |    WHERE s_nationkey <> c_nationkey
        |  ) WHERE (src * 31 + dst * 17) % 3 = 0
        |), r AS (
        |  SELECT src AS a, dst AS b FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src
        |), m AS (
        |  SELECT r.a, r.b FROM r
        |  WHERE EXISTS (SELECT 1 FROM r r2 WHERE r2.a = r.b AND r2.b = r.a)
        |), v AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
        |sccl AS (
        |  SELECT v.id, least(v.id, coalesce(min(m.b), v.id)) AS scc
        |  FROM v LEFT JOIN m ON m.a = v.id
        |  GROUP BY v.id
        |)
        |SELECT scc, count(*)::BIGINT AS n_nodes,
        |       min(id) AS min_id, max(id) AS max_id
        |FROM sccl GROUP BY 1 ORDER BY 1""".stripMargin),

    // link prediction over the trade graph (nation-0 slice): common
    // suppliers + neighborhood Jaccard per customer pair — integer counts
    // and one division, replayed exactly
    QuerySpec("gr_linkpred", (s, dir) => {
      val e = nation0Suppliers(s, dir).persist()
      val deg = e.groupBy("c").agg(count(lit(1)).as("deg"))
      val wedges = e.as("a").join(e.as("b"),
          col("a.sup") === col("b.sup") && col("a.c") < col("b.c"))
        .groupBy(col("a.c").as("c1"), col("b.c").as("c2"))
        .agg(count(lit(1)).as("common"))
      wedges
        .join(deg.select(col("c").as("c1"), col("deg").as("d1")), "c1")
        .join(deg.select(col("c").as("c2"), col("deg").as("d2")), "c2")
        .select(col("c1"), col("c2"), col("common"),
          round(col("common").cast("double")
            / (col("d1") + col("d2") - col("common")).cast("double"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("c1"), col("c2")).limit(25)
    },
      "WITH " + Nation0SuppliersCte + """, deg AS (SELECT c, count(*) AS deg FROM e GROUP BY 1),
        |w AS (
        |  SELECT a.c AS c1, b.c AS c2, count(*) AS common
        |  FROM e a JOIN e b ON a.sup = b.sup AND a.c < b.c
        |  GROUP BY 1, 2
        |)
        |SELECT c1, c2, CAST(common AS BIGINT) AS common,
        |       round(common::DOUBLE / (d1.deg + d2.deg - common)::DOUBLE, 6) AS jaccard
        |FROM w JOIN deg d1 ON d1.c = w.c1 JOIN deg d2 ON d2.c = w.c2
        |ORDER BY jaccard DESC, c1, c2 LIMIT 25""".stripMargin),

    // Adamic–Adar link prediction on the same bipartite projection: shared
    // neighbors weighted by 1/ln(degree) — rare shared suppliers count
    // more than hubs (Adamic & Adar 2003); ordering on the ROUNDED score
    // so both engines agree at the top-k boundary
    QuerySpec("gr_adamic", (s, dir) => {
      val e = nation0Suppliers(s, dir).persist()
      val sdeg = e.groupBy("sup").agg(count(lit(1)).as("d"))
        .withColumnRenamed("sup", "s2")
      e.as("a").join(e.as("b"),
          col("a.sup") === col("b.sup") && col("a.c") < col("b.c"))
        .join(sdeg, col("a.sup") === col("s2"))
        .groupBy(col("a.c").as("c1"), col("b.c").as("c2"))
        .agg(count(lit(1)).as("common"),
          sum(lit(1.0) / log(col("d"))).as("aa"))
        .select(col("c1"), col("c2"), col("common"),
          round(col("aa"), 6).as("adamic_adar"))
        .orderBy(col("adamic_adar").desc, col("c1"), col("c2")).limit(25)
    },
      "WITH " + Nation0SuppliersCte + """, sd AS (SELECT sup, count(*)::BIGINT AS d FROM e GROUP BY 1),
        |w AS (
        |  SELECT a.c AS c1, b.c AS c2, count(*)::BIGINT AS common,
        |         sum(1.0 / ln(d)) AS aa
        |  FROM e a JOIN e b ON a.sup = b.sup AND a.c < b.c
        |  JOIN sd ON sd.sup = a.sup
        |  GROUP BY 1, 2
        |)
        |SELECT c1, c2, common, round(aa, 6) AS adamic_adar
        |FROM w ORDER BY adamic_adar DESC, c1, c2 LIMIT 25""".stripMargin)
  )
}
