package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed PageRank over an edge table — the web-graph quality signal a
  * crawl-curation pipeline feeds into document weighting (rank-weighted
  * sampling of a 100 TB crawl is the canonical use).
  *
  * Setup, once: the edge table `(src, dst, deg)` — each edge carries its
  * source's out-degree (a count over a window on src, so the input is
  * computed once and a duplicated edge counts twice), cached; the node
  * list is derived from it.
  *
  * Plan shape per iteration (the Pregelix superstep: one join, one
  * group-by): contributions = edges ⋈ ranks on src, projected to
  * `(dst, rank / deg)`, unioned with one zero row per node, then one
  * `groupBy(node).sum` (map-side combinable). The zero rows keep every
  * node — dangling and unreferenced ones get sum 0 — so no join back to the
  * node list is needed. k iterations = k shuffles of the rank table; state
  * per round is one (node, rank) row per node, never the edge list.
  *
  * Determinism for the oracle: every iteration's rank is rounded to 12
  * decimals on both engines, so summation-order noise (~1e-16 relative)
  * never survives a round — the chained-CTE DuckDB replay, which still
  * joins to the degree table and left-joins the node list, is bit-identical
  * (adding the zero rows is exact).
  */
object PageRank {

  /** `(src, dst, deg)` with long ids, cached: each edge carries its
    * source's out-degree.
    */
  private def edgeTable(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .persist()

  /** The distinct `(node)` list over both endpoints of an [[edgeTable]]. */
  private def nodesOf(ed: DataFrame): DataFrame =
    ed.select(col("src").as("node")).union(ed.select(col("dst").as("node"))).distinct()

  /** One superstep's contributions: `(node = dst, c = rank / deg)`. */
  private def contributions(ed: DataFrame, ranks: DataFrame): DataFrame =
    ed.join(ranks, ed("src") === ranks("node"))
      .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))

  /** `edges` must have long columns (src, dst); the graph is used as given
    * (callers wanting symmetric flow pass both directions). Returns one row
    * per node with its rank after `iters` damped rounds.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val ed = edgeTable(edges)
    val nodes = nodesOf(ed).persist()
    val n = nodes.count()
    val zeros = nodes.select(col("node"), lit(0.0).as("c"))
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      ranks = contributions(ed, ranks).union(zeros)
        .groupBy("node")
        .agg(round(lit((1.0 - damping) / n) + lit(damping) * sum(col("c")), 12).as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: the teleport distribution is uniform over the
    * `seeds` set instead of all nodes — rank mass keeps flowing back to the
    * seeds, so the result scores proximity TO the seed community (the
    * recommendation / related-entities primitive; Haveliwala 2002's
    * topic-sensitive PageRank with a one-hot topic set).
    *
    * Same per-iteration plan as [[pageRank]] (edge⋈rank join, one
    * map-side-combinable group-by): the teleport table `(node, t)` — every
    * node of the graph, t = 1/|seeds| on seeds and 0 elsewhere — is built
    * once, cached, and unioned each round as `(node, c = 0, t)` beside the
    * contributions `(node, c, t = 0)`; the group-by sums both columns. A
    * node's only possibly nonzero t is its teleport row's, so the teleport
    * sum is exact. The teleport table is node-keyed, never broadcast, so
    * any seed-set size scales. Dangling mass is dropped, the standard
    * bounded-round treatment (the oracle replays identically).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    val ed = edgeTable(edges)
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
    val ns = sd.count()
    val tele = nodesOf(ed).join(sd.withColumn("t", lit(1.0 / ns)), Seq("node"), "left")
      .select(col("node"), coalesce(col("t"), lit(0.0)).as("t")).persist()
    val teleRows = tele.select(col("node"), lit(0.0).as("c"), col("t"))
    var ranks = tele.select(col("node"), col("t").as("rank"))
    for (_ <- 1 to iters) {
      ranks = contributions(ed, ranks).withColumn("t", lit(0.0)).union(teleRows)
        .groupBy("node")
        .agg(round(lit(1.0 - damping) * sum(col("t"))
          + lit(damping) * sum(col("c")), 12).as("rank"))
    }
    ranks
  }

  /** DuckDB replay of [[personalizedPageRank]] on the trade graph with
    * nation-0 customers as the seed set.
    */
  def pprDuckSql(iters: Int, damping: Double, topK: Int): String = {
    def step(prev: String, out: String) =
      s"""$out AS (
         |  SELECT tele.node,
         |         round(${1.0 - damping}::DOUBLE * tele.t + ${damping}::DOUBLE * coalesce(c.s, 0), 12) AS rank
         |  FROM tele LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
         |    FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1) c ON c.node = tele.node
         |)""".stripMargin
    val chain = (1 to iters).map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), e AS (
       |  SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw
       |), nodes AS (SELECT DISTINCT src AS node FROM e),
       |sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 0),
       |sn AS (SELECT count(*) AS n FROM sd),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |tele AS (
       |  SELECT nodes.node,
       |         CASE WHEN sd.node IS NULL THEN 0.0::DOUBLE ELSE 1::DOUBLE / sn.n END AS t
       |  FROM nodes CROSS JOIN sn LEFT JOIN sd ON sd.node = nodes.node
       |),
       |r0 AS (SELECT node, t AS rank FROM tele),
       |$chain
       |SELECT node, rank FROM r$iters
       |WHERE rank > 0 ORDER BY rank DESC, node LIMIT $topK""".stripMargin
  }

  /** DuckDB replay: the customer↔supplier trade graph (distinct
    * (custkey, suppkey) pairs from lineitem⋈orders, both directions, node
    * ids disambiguated by parity) through `iters` chained rank CTEs.
    */
  def pageRankDuckSql(iters: Int, damping: Double, topK: Int): String = {
    def step(prev: String, out: String) =
      s"""$out AS (
         |  SELECT nodes.node,
         |         round(${1.0 - damping}::DOUBLE / nn.n + ${damping}::DOUBLE * coalesce(c.s, 0), 12) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / d.deg) AS s
         |    FROM e JOIN $prev r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1) c ON c.node = nodes.node
         |)""".stripMargin
    val chain = (1 to iters).map(i => step(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH eraw AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), e AS (
       |  SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw
       |), nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT node, 1::DOUBLE / nn.n AS rank FROM nodes CROSS JOIN nn),
       |$chain
       |SELECT node, rank FROM r$iters ORDER BY rank DESC, node LIMIT $topK""".stripMargin
  }
}
