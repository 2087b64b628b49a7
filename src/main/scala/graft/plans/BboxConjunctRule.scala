package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.{BinaryType, DoubleType, StructType}
import org.locationtech.jts.geom.Envelope

import graft.geom.GeomCodec

/** Catalyst optimizer rule: automatic envelope pre-filter injection for
  * spatial predicates against a LITERAL geometry — the optimizer-side
  * equivalent of the reference's universal "bbox window prune → exact JTS
  * predicate" two-phase search (reference: every SearchFilter under
  * server-plugin/.../rtree/filter/, e.g. AbstractSearchEnvelopeIntersection
  * .java, SearchIntersectWindow.java:37-86; SURVEY §4 row 1).
  *
  * When a `Filter` contains a conjunct `st_<pred>(geomCol, <wkb literal>)`
  * (or the literal on the left) and the child exposes the canonical `bbox`
  * struct column, the rule computes the literal's envelope at PLANNING time
  * and ANDs in the matching min/max comparison:
  *
  *  - intersects/touches/crosses/overlaps/equals ⇒ bbox intersects env(lit)
  *  - within/coveredBy (geom ⊆ lit)              ⇒ bbox contained in env(lit)
  *  - contains/covers (geom ⊇ lit)               ⇒ bbox contains env(lit)
  *
  * The injected conjunct is plain column arithmetic on double struct fields,
  * so it whole-stage-codegens, short-circuits before the JTS UDF runs on
  * each row, and — because nested-field predicate pushdown is on by default
  * for parquet — reaches the scan as row-group min/max pruning. That is the
  * distributed stand-in for the reference's R-tree envelope descent.
  *
  * Idempotent: a conjunct already present (semantically) is not re-added, so
  * the rule is safe under fix-point iteration.
  *
  * Registration: `GraftSparkExtensions` for `spark.sql.extensions`, which
  * [[graft.Sessions.local]] sets.
  */
object BboxConjunctRule extends Rule[LogicalPlan] {

  /** predicates where either side touching the other's envelope is implied */
  private val SymmetricPreds = Set("st_intersects", "st_touches", "st_crosses",
    "st_overlaps", "st_equals")
  /** geom-arg ⊆ literal-arg */
  private val SubsetPreds = Set("st_within", "st_coveredby")
  /** geom-arg ⊇ literal-arg */
  private val SupersetPreds = Set("st_contains", "st_covers")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val bboxOpt = child.output.find(a => a.name == "bbox" && a.dataType.isInstanceOf[StructType])
      // the stored bbox struct describes exactly the canonical `geometry`
      // column — a predicate over any DERIVED geometry (st_buffer(geometry,r),
      // a `snapped` column, …) can extend beyond the row bbox, so injecting
      // the envelope conjunct for it would wrongly prune matching rows
      val geomOpt = child.output.find(a => a.name == "geometry" && a.dataType == BinaryType)
      (bboxOpt, geomOpt) match {
        case (Some(bbox), Some(geomAttr)) =>
          // compare ATOMIC comparisons on both sides — the injected set from a
          // previous fix-point pass is split back into atoms by splitConjuncts,
          // so matching whole And-chains would re-inject forever
          val existing = splitConjuncts(cond)
          val extra = existing.flatMap(conjunctFor(_, bbox, geomAttr)).flatten
            .filterNot(e => existing.exists(_.semanticEquals(e)))
          if (extra.isEmpty) f else Filter(extra.foldLeft(cond)(And), child)
        case _ => f
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The envelope comparisons implied by one spatial-predicate conjunct.
    * Matches all three predicate surfaces: SQL-registered `st_*` UDFs,
    * the (named) Column-API UDFs of graft.functions.st, and the native
    * [[graft.functions.STPredicate]] prepared-geometry expression.
    */
  private def conjunctFor(c: Expression, bbox: Attribute,
      geomAttr: Attribute): Option[Seq[Expression]] = {
    // the non-literal side must BE the canonical geometry attribute (same
    // exprId) — bail for derived geometries, other columns, or wrapped exprs
    def isLayerGeom(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == geomAttr.exprId
      case _ => false
    }
    c match {
      case u: ScalaUDF if u.udfName.exists(n => isSpatialPred(n.toLowerCase))
          && u.children.length == 2 =>
        val name = u.udfName.get.toLowerCase
        (u.children.head, u.children(1)) match {
          case (g, Literal(b: Array[Byte], BinaryType)) if isLayerGeom(g) =>
            envConjunct(name, bbox, envOf(b), litIsSecond = true)
          case (Literal(b: Array[Byte], BinaryType), g) if isLayerGeom(g) =>
            envConjunct(name, bbox, envOf(b), litIsSecond = false)
          case _ => None
        }
      // STPredicate relates the ROW geometry (child) to its constant query —
      // exactly the litIsSecond convention
      case p: graft.functions.STPredicate
          if isSpatialPred("st_" + p.predicate) && isLayerGeom(p.child) =>
        envConjunct("st_" + p.predicate, bbox, envOf(p.queryWkb), litIsSecond = true)
      // distance range: st_distance(geom, lit) <= d ⟹ bbox intersects the
      // literal's envelope EXPANDED by d — the reference's withinDistance
      // window prune (OrthodromicDistance.suggestSearchWindow:74-90), derived
      // automatically for SQL users
      case cmp @ (_: LessThanOrEqual | _: LessThan) =>
        val (l, r) = (cmp.asInstanceOf[BinaryComparison].left,
          cmp.asInstanceOf[BinaryComparison].right)
        (l, r) match {
          case (u: ScalaUDF, Literal(d: Double, DoubleType))
              if u.udfName.exists(_.equalsIgnoreCase("st_distance")) && u.children.length == 2
                && u.children.exists(isLayerGeom) =>
            val env = u.children.collectFirst {
              case Literal(b: Array[Byte], BinaryType) => envOf(b)
            }
            env.flatMap { e =>
              val expanded = new Envelope(e)
              expanded.expandBy(d)
              envConjunct("st_intersects", bbox, expanded, litIsSecond = true)
            }
          case _ => None
        }
      case _ => None
    }
  }

  private def isSpatialPred(n: String): Boolean =
    SymmetricPreds(n) || SubsetPreds(n) || SupersetPreds(n)

  private def envOf(wkb: Array[Byte]): Envelope =
    GeomCodec.fromWkb(wkb).getEnvelopeInternal

  private def envConjunct(name: String, bbox: Attribute, env: Envelope,
      litIsSecond: Boolean): Option[Seq[Expression]] = {
    // when the literal is the FIRST argument, subset/superset flip direction
    val effective =
      if (SymmetricPreds(name)) "intersects"
      else if (SubsetPreds(name)) { if (litIsSecond) "subset" else "superset" }
      else { if (litIsSecond) "superset" else "subset" }
    def fld(n: String): Expression = {
      val st = bbox.dataType.asInstanceOf[StructType]
      GetStructField(bbox, st.fieldIndex(n), Some(n))
    }
    def d(v: Double): Expression = Literal(v, DoubleType)
    effective match {
      case "intersects" => Some(Seq(
        LessThanOrEqual(fld("minx"), d(env.getMaxX)),
        GreaterThanOrEqual(fld("maxx"), d(env.getMinX)),
        LessThanOrEqual(fld("miny"), d(env.getMaxY)),
        GreaterThanOrEqual(fld("maxy"), d(env.getMinY))))
      case "subset" => Some(Seq(
        GreaterThanOrEqual(fld("minx"), d(env.getMinX)),
        LessThanOrEqual(fld("maxx"), d(env.getMaxX)),
        GreaterThanOrEqual(fld("miny"), d(env.getMinY)),
        LessThanOrEqual(fld("maxy"), d(env.getMaxY))))
      case _ => Some(Seq(
        LessThanOrEqual(fld("minx"), d(env.getMinX)),
        GreaterThanOrEqual(fld("maxx"), d(env.getMaxX)),
        LessThanOrEqual(fld("miny"), d(env.getMinY)),
        GreaterThanOrEqual(fld("maxy"), d(env.getMaxY))))
    }
  }
}

/** `spark.sql.extensions=graft.plans.GraftSparkExtensions` entry point. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BboxConjunctRule)
    // session-bound instance: a multi-session JVM must not resolve
    // SparkSession.active inside the rewrite
    ext.injectOptimizerRule(s => new StJoinRule(s))
    // a columnar rule runs on every plan before codegen stages collapse,
    // adaptive or not: the one slot for a rewrite of the generated code
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = BindConstants
    })
  }
}
