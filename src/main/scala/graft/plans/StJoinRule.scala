package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.engine.SpatialJoin
import graft.functions.st

/** Declarative SQL spatial joins, made scalable: Spark plans
  * `FROM a JOIN b ON st_intersects(a.geom, b.geom)` as a CARTESIAN product
  * (BroadcastNestedLoop at best) because the condition has no equi-join
  * key. This optimizer rule recognizes a join whose condition carries a
  * cross-side `st_*` predicate and NO equi-conjunct, and hands it to the
  * spatial-join dataflow the DataFrame API uses too
  * ([[graft.engine.SpatialJoin.build]]: broadcast for a small INNER probe
  * side, else the PBSM grid's cell EQUI-join, a single tagged pass for the
  * left-preserving types). O(cells + candidate pairs) instead of
  * O(|a|·|b|). The rule itself only matches the predicate, orients it,
  * and composes the join types `build` lacks:
  *
  *  - INNER, LEFT OUTER, LEFT SEMI, LEFT ANTI go to `build` as they
  *    are, the left side preserved;
  *  - RIGHT OUTER runs LEFT OUTER with the sides (and the predicate)
  *    transposed;
  *  - FULL OUTER is the LEFT OUTER result unioned with the right side's
  *    unmatched rows (a right-preserved ANTI pass) null-extended on the
  *    left columns.
  *
  * Scope (documented, not silently wrong): the ST conjunct's arguments
  * must be bare geometry columns, one from each side (arriving as
  * (right, left) transposes the predicate); remaining conjuncts join the
  * match condition (for the left-preserving types ON-clause semantics
  * differ from a post-filter). Joins that already have an equi-key are left
  * alone (Spark hashes those fine). Cell size comes from
  * `spark.graft.sqlJoin.cellSize` (degrees, default 10.0) — at 100 TB set
  * it from bbox stats exactly like the API path's suggestCellSize; the
  * broadcast cap is `build`'s `spark.graft.sqlJoin.broadcastBytes`
  * (0 pins the grid plan).
  */
class StJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** predicate → its transpose when the arguments arrive (right, left) */
  private val Transpose = Map(
    "st_intersects" -> "st_intersects", "st_touches" -> "st_touches",
    "st_overlaps" -> "st_overlaps",
    "st_within" -> "st_contains", "st_contains" -> "st_within",
    "st_covers" -> "st_coveredby", "st_coveredby" -> "st_covers",
    // distance is symmetric in its geometry arguments
    "st_dwithin" -> "st_dwithin")

  private val Supported: Set[JoinType] =
    Set(Inner, LeftOuter, LeftSemi, LeftAnti, RightOuter, FullOuter)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case o => Seq(o)
  }

  private def crossEqui(e: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    e match {
      case EqualTo(a, b) =>
        (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
        (a.references.subsetOf(r.outputSet) && b.references.subsetOf(l.outputSet))
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // a join over `build`'s own `__g_` columns is this rule's output: its
    // nested loops (the broadcast branch, the grid's joins for rows over
    // the cell cap) carry the st_* predicate beside bbox conjuncts and no
    // equi-key, and must not be rewritten a second time
    case j @ Join(left, right, jt, Some(cond), _)
        if Supported(jt) && !cond.references.exists(_.name.startsWith("__g_")) =>
      val cs = conjuncts(cond)
      val stMatch = cs.zipWithIndex.collectFirst {
        case (u: ScalaUDF, i) if u.udfName.exists(Transpose.contains) &&
            u.children.forall(_.isInstanceOf[AttributeReference]) &&
            u.children.size == 2 =>
          val Seq(a: AttributeReference, b: AttributeReference) = u.children
          if (left.outputSet.contains(a) && right.outputSet.contains(b))
            Some((i, u.udfName.get, a, b, None: Option[Double]))
          else if (left.outputSet.contains(b) && right.outputSet.contains(a))
            Some((i, Transpose(u.udfName.get), b, a, None: Option[Double]))
          else None
        // ST_DWithin(a.geom, b.geom, <literal>): a distance join — same grid
        // plan with the probe side's envelope dilated by the (foldable)
        // radius. Symmetric, so orientation only swaps the argument order.
        case (u: ScalaUDF, i) if u.udfName.contains("st_dwithin") &&
            u.children.size == 3 &&
            u.children.take(2).forall(_.isInstanceOf[AttributeReference]) &&
            u.children(2).foldable &&
            u.children(2).dataType == org.apache.spark.sql.types.DoubleType =>
          val a = u.children(0).asInstanceOf[AttributeReference]
          val b = u.children(1).asInstanceOf[AttributeReference]
          val d = u.children(2).eval().asInstanceOf[Double]
          if (left.outputSet.contains(a) && right.outputSet.contains(b))
            Some((i, "st_dwithin", a, b, Some(d)))
          else if (left.outputSet.contains(b) && right.outputSet.contains(a))
            Some((i, "st_dwithin", b, a, Some(d)))
          else None
      }.flatten
      stMatch match {
        case Some((i, pred, lGeom, rGeom, dist)) if !cs.exists(crossEqui(_, left, right)) =>
          rewrite(j, jt, left, right, cs.patch(i, Nil, 1), pred, lGeom, rGeom, dist)
        case _ => j
      }
  }

  private def rewrite(j: Join, jt: JoinType, left: LogicalPlan, right: LogicalPlan,
      rest: Seq[Expression], pred: String,
      lGeom: AttributeReference, rGeom: AttributeReference,
      dist: Option[Double]): LogicalPlan = {
    // `spark` is the session the rule was injected into; conf is read
    // through the rule's SQLConf (the session planning this query), so a
    // multi-session JVM never crosses sessions
    val cell = conf.getConfString("spark.graft.sqlJoin.cellSize", "10.0").toDouble
    val restCond = rest.reduceOption(And).map(GraftColumnBridge.column)

    /** `SpatialJoin.build` with `p` PRESERVED and `q` probed; `pred` is
      * oriented (pGeom, qGeom). Output: p's columns, then q's unless
      * semi/anti — positionally, as `build` returns them.
      */
    def join(p: LogicalPlan, q: LogicalPlan, pred: String,
        pGeom: AttributeReference, qGeom: AttributeReference,
        semantics: JoinType): DataFrame = {
      val (pg, qg) = (GraftColumnBridge.column(pGeom), GraftColumnBridge.column(qGeom))
      SpatialJoin.build(
        SpatialJoin.Side(GraftColumnBridge.ofRows(spark, p), st.bboxOf(pg)),
        SpatialJoin.Side(GraftColumnBridge.ofRows(spark, q), st.bboxOf(qg)),
        dist.fold(call_udf(pred, pg, qg))(d => call_udf(pred, pg, qg, lit(d))),
        semantics, cell, dist, restCond)
    }

    val result: DataFrame = jt match {
      case Inner | LeftOuter | LeftSemi | LeftAnti =>
        join(left, right, pred, lGeom, rGeom, jt)
      case RightOuter =>
        // same dataflow, sides and predicate transposed; moving the right
        // side's columns behind the left's restores the output order
        val out = join(right, left, Transpose(pred), rGeom, lGeom, LeftOuter)
        val cols = out.queryExecution.analyzed.output.map(GraftColumnBridge.column)
        out.select(cols.drop(right.output.size) ++ cols.take(right.output.size): _*)
      case FullOuter =>
        val leftPart = join(left, right, pred, lGeom, rGeom, LeftOuter)
        // right rows with NO match, null-extended on the left columns —
        // positional union against the left part
        val rightAnti = join(right, left, Transpose(pred), rGeom, lGeom, LeftAnti)
        val nullLeft = left.output.map(a => lit(null).cast(a.dataType).as(a.name))
        leftPart.union(rightAnti.select(nullLeft ++
          rightAnti.queryExecution.analyzed.output.map(GraftColumnBridge.column): _*))
      case other => throw new IllegalStateException(s"unreachable join type $other")
    }
    val newPlan = result.queryExecution.analyzed
    // the result is in j.output order and its attributes pass through, so
    // ExprIds already line up; a defensive projection restores them if an
    // analyzer step re-aliased anything
    if (newPlan.output.map(_.exprId) == j.output.map(_.exprId)) newPlan
    else Project(j.output.zip(newPlan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, newPlan)
  }
}
