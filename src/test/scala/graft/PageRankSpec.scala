package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}

import graft.pipeline.PageRank

/** PageRank and personalized PageRank against a driver-side power
  * iteration that rounds every round to 12 decimals, as the engine and its
  * DuckDB replay do, and the per-iteration plan shape: one join plus one
  * aggregate per iteration outside the cached edge and node tables.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val d = 0.85

  // 6 has no in-edges, 5 is a sink, and 1→2 appears twice (deg(1) = 3)
  private val edgeList = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L),
    (3L, 4L), (4L, 5L), (6L, 1L))
  private val nodes = edgeList.flatMap { case (s, t) => Seq(s, t) }.distinct

  private def round12(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `iters` rounds of rank(v) = round12(tele(v) + d · Σ_{u→v} rank(u)/deg(u))
    * from `start`, one term per edge instance; dangling mass is dropped.
    */
  private def powerIteration(edges: Seq[(Long, Long)], start: Map[Long, Double],
      tele: Long => Double, iters: Int): Map[Long, Double] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    (1 to iters).foldLeft(start) { (rank, _) =>
      val s = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum }
      rank.map { case (v, _) => v -> round12(tele(v) + d * s.getOrElse(v, 0.0)) }
    }
  }

  private def ranksOf(df: DataFrame): Map[Long, Double] =
    df.select("node", "rank").as[(Long, Double)].collect().toMap

  // summation order can move a value across one 12-decimal rounding
  // boundary; anything larger is a wrong rank
  private def assertRanks(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (v, r) =>
      assert(math.abs(got(v) - r) <= 1e-10, s"node $v: rank ${got(v)}, expected $r")
    }
  }

  test("pageRank equals the rounded power iteration: sink, source-only node, duplicate edge") {
    val n = nodes.size
    val start = nodes.map(_ -> 1.0 / n).toMap
    val got = ranksOf(PageRank.pageRank(edgeList.toDF("src", "dst"), iters = 5, damping = d))
    assertRanks(got, powerIteration(edgeList, start, _ => (1 - d) / n, 5))
    // no in-edges: only the teleport term
    assert(got(6L) == round12((1 - d) / n))
    // the duplicated edge counts twice in deg(1): a distinct edge list ranks differently
    val once = powerIteration(edgeList.distinct, start, _ => (1 - d) / n, 5)
    assert(math.abs(once(2L) - got(2L)) > 1e-6)
  }

  test("personalizedPageRank equals the rounded power iteration: unreachable node, seed sink") {
    // 5 is a seed with no out-edges; 99 is a seed outside the graph, which
    // counts in |seeds| but gets no row; 6 cannot be reached from a seed
    val seeds = Set(1L, 5L, 99L)
    val t: Long => Double = v => if (seeds(v)) 1.0 / seeds.size else 0.0
    val want = powerIteration(edgeList, nodes.map(v => v -> t(v)).toMap, v => (1 - d) * t(v), 4)
    val got = ranksOf(PageRank.personalizedPageRank(edgeList.toDF("src", "dst"),
      (seeds.toSeq ++ Seq(1L)).toDF("node"), iters = 4, damping = d))
    assertRanks(got, want)
    assert(got(6L) == 0.0)
    assert(!got.contains(99L))
  }

  test("one inner join and one aggregate per iteration outside the cached tables") {
    val edges = edgeList.toDF("src", "dst")
    def shape(df: DataFrame): (Seq[Join], Int) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.collect { case j: Join => j }, plan.collect { case a: Aggregate => a }.size)
    }
    for (iters <- Seq(1, 3, 6)) {
      val plans = Seq(
        "pageRank" -> PageRank.pageRank(edges, iters),
        "personalizedPageRank" -> PageRank.personalizedPageRank(edges, Seq(1L).toDF("node"), iters))
      plans.foreach { case (name, df) =>
        val (joins, aggs) = shape(df)
        assert(joins.size == iters, s"$name($iters): ${joins.size} joins\n${df.queryExecution.optimizedPlan}")
        assert(joins.forall(_.joinType == Inner), s"$name($iters): ${joins.map(_.joinType)}")
        assert(aggs == iters, s"$name($iters): $aggs aggregates")
      }
    }
  }
}
