package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical rule: the generated code of a lookup does not depend on its
  * query constants, so every call of one lookup shape reuses the classes
  * the first call compiled.
  *
  * Whole-stage codegen writes a `Literal` into the Java source as a Java
  * literal, and the compiled-class cache is keyed by that source: each new
  * window, curve range set or distance factor compiled fresh classes, on the
  * driver and again in the task. This rule rewrites the expressions of
  * `FilterExec` and `ProjectExec` only:
  *
  *  - a non-null Int, Long, Float or Double literal that is a direct operand
  *    of a comparison, an arithmetic operator, `least` or `greatest` becomes
  *    a [[BoundConstant]], read once from the generated class's
  *    `references[]`;
  *  - an OR of closed ranges `c >= lo AND c <= hi` over one long expression
  *    (the curve-window predicate, whose length varies with the window)
  *    becomes one [[InRanges]] test over a referenced bounds array.
  *
  * Literals anywhere else stay: some expressions specialize their code on a
  * foldable argument (`round`'s scale, `rand`'s seed, a `like` pattern). The
  * scan and its pushed and partition filters are not touched, so file and
  * row-group pruning stay as planned. Applying the rule twice changes
  * nothing. Registered by [[GraftSparkExtensions]] as a columnar rule, which
  * runs before codegen stages are collapsed, with or without adaptive
  * execution.
  */
object BindConstants extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = rewrite(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(rewrite(_).asInstanceOf[NamedExpression]))
  }

  private[graft] def rewrite(e: Expression): Expression = e.transformDown {
    case ClosedRanges(c, ranges) => InRanges(c, InRanges.merge(ranges))
    case b @ (_: BinaryComparison | _: BinaryArithmetic | _: Least | _: Greatest) =>
      b.mapChildren(bind)
  }

  private def bind(e: Expression): Expression = e match {
    case Literal(v, t @ (IntegerType | LongType | FloatType | DoubleType)) if v != null =>
      BoundConstant(v, t)
    case other => other
  }

  /** An OR whose every disjunct is a closed range `c >= lo AND c <= hi`
    * (either operand order) over one deterministic long expression `c`. */
  private object ClosedRanges {
    def unapply(o: Or): Option[(Expression, Seq[(Long, Long)])] = {
      val rs = disjuncts(o).map(range)
      if (!rs.forall(_.isDefined)) return None
      val c = rs.head.get._1
      if (c.dataType == LongType && c.deterministic && rs.forall(_.get._1.semanticEquals(c)))
        Some((c, rs.map(_.get._2)))
      else None
    }

    private def disjuncts(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => disjuncts(l) ++ disjuncts(r)
      case other => Seq(other)
    }

    private def lower(e: Expression): Option[(Expression, Long)] = e match {
      case GreaterThanOrEqual(c, Literal(v: Long, LongType)) => Some((c, v))
      case LessThanOrEqual(Literal(v: Long, LongType), c) => Some((c, v))
      case _ => None
    }

    private def upper(e: Expression): Option[(Expression, Long)] = e match {
      case LessThanOrEqual(c, Literal(v: Long, LongType)) => Some((c, v))
      case GreaterThanOrEqual(Literal(v: Long, LongType), c) => Some((c, v))
      case _ => None
    }

    private def range(e: Expression): Option[(Expression, (Long, Long))] = e match {
      case And(a, b) =>
        val pairs = for ((x, y) <- Seq((a, b), (b, a)); (c, lo) <- lower(x); (c2, hi) <- upper(y)
          if c.semanticEquals(c2)) yield (c, (lo, hi))
        pairs.headOption
      case _ => None
    }
  }
}

/** A constant whose generated code reads it once from `references[]` into a
  * field, so the Java source is the same for every value. */
case class BoundConstant(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"bound($value)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "bound", v => s"$v = $ref.${javaType}Value();",
      forceInline = true)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** `child` lies in one of the closed ranges `[bounds(2i), bounds(2i+1)]`:
  * the same answer as the OR of `child >= lo AND child <= hi`, null on a null
  * input. `bounds` is sorted and merged ([[InRanges.merge]]), so a binary
  * search decides. */
case class InRanges(child: Expression, bounds: Seq[Long]) extends UnaryExpression {
  @transient private lazy val arr: Array[Long] = bounds.toArray
  override def dataType: DataType = BooleanType
  override def toString: String = s"$child IN ${bounds.size / 2} RANGES"
  override protected def nullSafeEval(v: Any): Any = InRanges.contains(arr, v.asInstanceOf[Long])
  override protected def withNewChildInternal(c: Expression): InRanges = copy(child = c)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ranges", arr, "long[]")
    val field = ctx.addMutableState("long[]", "ranges", v => s"$v = $ref;", forceInline = true)
    defineCodeGen(ctx, ev, v => s"${classOf[InRanges].getName}.contains($field, $v)")
  }
}

object InRanges {
  /** Non-empty ranges sorted by their low end, overlapping or adjacent ones
    * merged, flattened to lo0, hi0, lo1, hi1, … */
  def merge(ranges: Seq[(Long, Long)]): Seq[Long] =
    ranges.filter { case (lo, hi) => lo <= hi }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((plo, phi) :: rest, (lo, hi)) if phi == Long.MaxValue || lo <= phi + 1 =>
          (plo, math.max(phi, hi)) :: rest
        case (acc, r) => r :: acc
      }.reverse.flatMap { case (lo, hi) => Seq(lo, hi) }

  def contains(bounds: Array[Long], v: Long): Boolean = {
    // the last range whose low end is <= v
    var lo = 0
    var hi = bounds.length / 2 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(2 * mid) <= v) lo = mid + 1 else hi = mid - 1
    }
    hi >= 0 && v <= bounds(2 * hi + 1)
  }
}
